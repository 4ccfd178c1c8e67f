package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One request of the single closed-loop client: `build` makes it (a query's
  * DataFrame construction, or one `Engine.sql` call), `run` executes it.
  * `kind` is `query`, `read`, `write` or `setup`; setup requests are part of
  * a pass's wall time but are not statements of the script. */
final case class Request(name: String, kind: String, build: () => AnyRef,
    run: AnyRef => Unit)

/** A request whose result differs from the expected one. */
final class Mismatch(msg: String) extends RuntimeException(msg)

trait Workload {
  def name: String

  /** Repeatable input preparation, timed as part of set-up. */
  def prepare(): Unit

  /** The requests of pass `index`; with `check`, each one also checks its
    * result (the untimed warm-up pass). */
  def pass(index: Int, check: Boolean): Seq[Request]

  /** Logical-plan nodes of the state the workload mutates (0 if none). */
  def stateNodes(): Long = 0L
}

object Workloads {

  /** The queries of each query workload, chosen so that one pass takes a
    * few seconds on four cores, leaving room for several timed passes in a
    * run. */
  val queryWorkloads: Map[String, Seq[String]] = Map(
    // LLM-pipeline headline queries: eager cuts, memoized fits and the
    // per-row kernels (SimHash in d04, shingles and MinHash in d08,
    // repetition rules in p04, the hashed-gram classifier in t33, dot
    // products in s01). d03, the MinHash dedup of the whole corpus, is not
    // here: at sf0.1 its output differs from the oracle's, so no checked
    // result could be recorded.
    "pipeline" -> Seq(
      "d04_simhash_pairs", "d08_cross_dedup", "p04_quality_gate",
      "s01_ann_bruteforce", "t33_quality_classifier", "t38_unigram_train"))

  /** Corpus tables each workload reads, counted during preparation. */
  val tables: Map[String, Seq[String]] = Map(
    "pipeline" -> Seq("documents", "embeddings"),
    "sql-dml" -> Seq("orders"))

  val names: Seq[String] = Seq("pipeline", "sql-dml")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
      expected: Map[String, String]): Workload = name match {
    case "sql-dml" => new SqlDml(spark, dir, seed, expected)
    case q if queryWorkloads.contains(q) =>
      new QueryWorkload(q, queryWorkloads(q), spark, dir, seed, expected)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Count each input table and check it against the committed row count. */
  def countTables(spark: SparkSession, dir: String, workload: String,
      expected: Map[String, String]): Unit =
    tables(workload).foreach { t =>
      val n = graft.core.Tables.load(spark, dir, t).count()
      val want = expected.get(s"table.$t")
      if (!want.contains(n.toString))
        throw new Mismatch(s"table $t has $n rows, expected ${want.getOrElse("?")}")
    }
}

/** A fixed set of engine queries; the seed sets the query order of each
  * pass. Timed passes force each query with a `noop` write (full execution,
  * no collect); the warm-up pass instead checks each result's fingerprint. */
final class QueryWorkload(val name: String, queries: Seq[String],
    spark: SparkSession, dir: String, seed: Long,
    expected: Map[String, String]) extends Workload {

  private val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap

  def prepare(): Unit = Workloads.countTables(spark, dir, name, expected)

  def pass(index: Int, check: Boolean): Seq[Request] =
    new Random(seed * 1000003L + index).shuffle(queries).map { q =>
      Request(q, "query", () => fns(q)(spark, dir), df =>
        if (check) {
          val got = Expected.fingerprint(df.asInstanceOf[DataFrame])
          val want = expected.getOrElse(s"query.$q", "<none recorded>")
          if (got != want) throw new Mismatch(s"$q: fingerprint $got, expected $want")
        } else df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save())
    }
}

/** Seeded H2-dialect script through `Engine.sql`, each pass against a fresh
  * table built from the corpus (`orders`), checked against a plain-Scala
  * model of the table that the generator updates as it writes the script.
  *
  * The statement kinds follow a fixed pattern (INSERT batch, UPDATE,
  * MERGE … KEY and DELETE among point and aggregate SELECTs, ending with a
  * table checksum: six reads to four writes) and the seed draws every key
  * and value, so the plan shapes, and with them the job and plan-node
  * counts, are the same for every seed. Every read is checked, in every
  * pass. */
final class SqlDml(spark: SparkSession, dir: String, seed: Long,
    expected: Map[String, String]) extends Workload {
  import SqlDml._

  val name = "sql-dml"
  private var engine: graft.sqlfront.Engine = _
  private var script: Seq[Stmt] = Nil

  def prepare(): Unit = {
    Workloads.countTables(spark, dir, name, expected)
    engine = new graft.sqlfront.Engine(spark)
    engine.register("orders_src", graft.core.Tables.load(spark, dir, "orders"))
    val base = engine.sql(baseSelect).collect().map { r =>
      r.getLong(0) -> Row(r.getLong(1), r.getInt(2), r.getString(3))
    }.toMap
    script = generate(base, new Random(seed))
  }

  def pass(index: Int, check: Boolean): Seq[Request] = {
    def setup(n: String, sql: String) =
      Request(n, "setup", () => engine.sql(sql), _ => ())
    Seq(setup("drop", "DROP TABLE IF EXISTS acct"), setup("create", createTable),
      setup("fill", s"INSERT INTO acct $baseSelect")) ++
      script.map { s =>
        Request(s.label, s.kind, () => engine.sql(s.sql), df =>
          s.expect.foreach { want =>
            val got = df.asInstanceOf[DataFrame].collect()
              .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
            if (got != want)
              throw new Mismatch(s"${s.label} `${s.sql}`: got $got, expected $want")
          })
      }
  }

  override def stateNodes(): Long =
    engine.table("acct").queryExecution.logical.collect { case p => p }.size.toLong
}

object SqlDml {
  final case class Row(cust: Long, qty: Int, status: String)
  final case class Stmt(label: String, kind: String, sql: String,
      expect: Option[Seq[String]])

  val baseKeys = 2000
  val createTable =
    "CREATE TABLE acct (k BIGINT PRIMARY KEY, cust BIGINT, qty INT, status VARCHAR(1))"
  val baseSelect: String =
    "SELECT o_orderkey, o_custkey, CAST(MOD(CAST(o_totalprice AS INT), 1000) AS INT), " +
      s"o_orderstatus FROM orders_src WHERE o_orderkey < $baseKeys"

  /** Keys the script inserts start here; keys from here on never exist. */
  val newKeys = 1000000L
  val absentKeys = 500000L

  /** The statements of the script, in order, before its closing checksum.
    * A point SELECT names the kind of key it looks up: one of the corpus
    * rows, one the script inserted, or one that never exists. */
  val pattern: Seq[String] = Seq("insert", "point_base", "update", "point_new",
    "aggregate", "merge", "point_base", "delete", "point_absent")

  private val statuses = Seq("F", "O", "P")

  /** Write the script while applying it to a model of the table, so every
    * read carries the rows it must return. */
  def generate(base: Map[Long, Row], rnd: Random): Seq[Stmt] = {
    val model = mutable.TreeMap.empty[Long, Row] ++ base
    var nextKey = newKeys
    def freshRow() = Row(rnd.nextInt(15000).toLong, rnd.nextInt(1000),
      statuses(rnd.nextInt(3)))
    def values(rows: Seq[(Long, Row)]) = rows.map { case (k, r) =>
      s"($k, ${r.cust}, ${r.qty}, '${r.status}')"
    }.mkString(", ")
    // keys drawn from a fixed class, so the seed moves values, not plan shapes
    def pick(keys: Iterable[Long]): Long = keys.drop(rnd.nextInt(keys.size)).head
    def baseKey(): Long = pick(model.keysIterator.takeWhile(_ < baseKeys).toSeq)
    def newKey(): Long = pick(model.keysIterator.dropWhile(_ < newKeys).toSeq)
    def range(width: Int): (Long, Long) = {
      val lo = rnd.nextInt(baseKeys - width).toLong
      (lo, lo + width)
    }
    def rowsOf(rs: Iterable[Row]) = rs.map(r => s"${r.cust}|${r.qty}|${r.status}").toSeq.sorted
    def checksum(): Seq[String] = Seq(Seq(model.size.toLong, model.keys.sum,
      model.values.map(_.qty.toLong).sum, model.values.map(_.cust).sum).mkString("|"))

    val stmts = pattern.zipWithIndex.map { case (kind, i) =>
      val label = f"s$i%02d_$kind"
      kind match {
        case "insert" =>
          val rows = (0 until 5).map { _ => nextKey += 1; nextKey -> freshRow() }
          model ++= rows
          Stmt(label, "write", s"INSERT INTO acct VALUES ${values(rows)}", None)
        case "update" =>
          val (lo, hi) = range(20)
          val d = 1 + rnd.nextInt(9)
          model.range(lo, hi + 1).foreach { case (k, r) => model(k) = r.copy(qty = r.qty + d) }
          Stmt(label, "write",
            s"UPDATE acct SET qty = qty + $d WHERE k BETWEEN $lo AND $hi", None)
        case "merge" =>
          val existing = Iterator.continually(baseKey()).distinct.take(2).toSeq
          val rows = (existing ++ (0 until 2).map { _ => nextKey += 1; nextKey })
            .map(_ -> freshRow())
          model ++= rows
          Stmt(label, "write", s"MERGE INTO acct KEY(k) VALUES ${values(rows)}", None)
        case "delete" =>
          val (lo, hi) = range(10)
          model --= model.range(lo, hi + 1).keys.toSeq
          Stmt(label, "write", s"DELETE FROM acct WHERE k BETWEEN $lo AND $hi", None)
        case point if point.startsWith("point") =>
          val k = point match {
            case "point_base" => baseKey()
            case "point_new" => newKey()
            case _ => absentKeys + rnd.nextInt(1000)
          }
          Stmt(label, "read", s"SELECT cust, qty, status FROM acct WHERE k = $k",
            Some(rowsOf(model.get(k))))
        case "aggregate" =>
          val want = model.values.groupBy(_.status).map { case (st, rs) =>
            s"$st|${rs.size}|${rs.map(_.qty.toLong).sum}"
          }.toSeq.sorted
          Stmt(label, "read",
            "SELECT status, COUNT(*), SUM(qty) FROM acct GROUP BY status", Some(want))
      }
    }
    stmts :+ Stmt("checksum", "read",
      "SELECT COUNT(*), SUM(k), SUM(qty), SUM(cust) FROM acct", Some(checksum()))
  }
}
