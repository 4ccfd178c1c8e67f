package graft.sqlfront

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}

/** Flat-lineage DML: every SQL write commits one materialized version of
  * its table (Engine.commitVersion), so the registered plan and partition
  * count stay bounded however many writes a session runs; snapshots
  * taken before a write keep reading the version they saw; and a literal
  * VALUES list plans as one local relation typed like the UNION ALL it
  * replaces. */
class DmlCommitSpec extends graft.SparkSpec {

  private def rows(df: DataFrame): Seq[(Int, String)] =
    df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)

  test("60 write rounds keep the table's plan and partition count bounded") {
    val e = new Engine(spark)
    e.register("acct_src", spark.range(2000)
      .selectExpr("id AS k", "CAST(id % 97 AS INT) AS v"))
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, v INT)")
    e.sql("INSERT INTO acct SELECT k, v FROM acct_src")
    val model = mutable.TreeMap.empty[Long, Long] ++
      (0L until 2000L).map(k => k -> k % 97)
    val bound = math.max(e.table("acct").rdd.getNumPartitions,
      spark.sparkContext.defaultParallelism)
    def nodes: Int = e.table("acct").queryExecution.logical.collect { case p => p }.size
    var nodesAtRound5 = -1
    for (r <- 1 to 60) {
      val batch = (0 until 5).map(i => (100000L + 5 * r + i) -> ((7L * r + i) % 1000))
      e.sql("INSERT INTO acct VALUES " +
        batch.map { case (k, v) => s"($k, $v)" }.mkString(", "))
      model ++= batch
      if (r % 3 == 0) {
        val lo = (31L * r) % 1980
        e.sql(s"UPDATE acct SET v = v + 1 WHERE k BETWEEN $lo AND ${lo + 20}")
        model.range(lo, lo + 21).foreach { case (k, v) => model(k) = v + 1 }
      }
      val got = e.sql("SELECT COUNT(*), SUM(v) FROM acct").head()
      assert((got.getLong(0), got.getLong(1)) == (model.size.toLong, model.values.sum),
        s"round $r")
      if (r == 5) nodesAtRound5 = nodes
      if (r > 5) assert(nodes == nodesAtRound5, s"plan grew at round $r")
      assert(e.table("acct").rdd.getNumPartitions <= bound, s"round $r")
    }
  }

  test("frames read before UPDATE/DELETE/MERGE keep their rows; savepoints restore") {
    val e = new Engine(spark)
    e.sql("CREATE TABLE sn (k INT PRIMARY KEY, v VARCHAR(5))")
    e.sql("INSERT INTO sn VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val before = e.sql("SELECT k, v FROM sn")
    e.sql("UPDATE sn SET v = 'B' WHERE k = 2")
    val afterUpdate = e.sql("SELECT k, v FROM sn")
    e.sql("DELETE FROM sn WHERE k = 1")
    val afterDelete = e.sql("SELECT k, v FROM sn")
    e.sql("MERGE INTO sn KEY(k) VALUES (3, 'C'), (4, 'd')")
    assert(rows(before) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(rows(afterUpdate) == Seq((1, "a"), (2, "B"), (3, "c")))
    assert(rows(afterDelete) == Seq((2, "B"), (3, "c")))
    val committed = Seq((2, "B"), (3, "C"), (4, "d"))
    assert(rows(e.sql("SELECT k, v FROM sn")) == committed)

    e.sql("SET AUTOCOMMIT OFF")
    e.sql("SAVEPOINT sp")
    e.sql("UPDATE sn SET v = 'x'")
    e.sql("DELETE FROM sn WHERE k = 2")
    e.sql("MERGE INTO sn KEY(k) VALUES (4, 'D'), (5, 'e')")
    assert(rows(e.sql("SELECT k, v FROM sn")) == Seq((3, "x"), (4, "D"), (5, "e")))
    e.sql("ROLLBACK TO SAVEPOINT sp")
    assert(rows(e.sql("SELECT k, v FROM sn")) == committed)
    e.sql("SET AUTOCOMMIT ON")
  }

  test("row-trigger OLD/NEW deltas of UPDATE and MERGE survive later writes") {
    val e = new Engine(spark)
    e.sql("CREATE TABLE tg (k INT PRIMARY KEY, v VARCHAR(5))")
    e.sql("INSERT INTO tg VALUES (1, 'a'), (2, 'b')")
    val deltas = mutable.ArrayBuffer.empty[(String, DataFrame, DataFrame)]
    Seq("tg_u" -> "AFTER UPDATE", "tg_i" -> "AFTER INSERT").foreach { case (n, timing) =>
      e.sql(s"CREATE TRIGGER $n $timing ON tg FOR EACH ROW CALL \"x\"")
      e.registerTriggerImpl(n, (ev, o, nw) => deltas += ((ev, o, nw)))
    }
    e.sql("UPDATE tg SET v = 'B' WHERE k = 2")
    e.sql("MERGE INTO tg KEY(k) VALUES (1, 'A'), (3, 'c')")
    e.sql("DELETE FROM tg")
    assert(e.sql("SELECT COUNT(*) FROM tg").head().getLong(0) == 0L)
    assert(deltas.map { case (ev, o, nw) => (ev, rows(o), rows(nw)) }.toSeq == Seq(
      ("UPDATE", Seq((2, "b")), Seq((2, "B"))),
      ("UPDATE", Seq((1, "a")), Seq((1, "A"))),
      ("INSERT", Seq(), Seq((3, "c")))))
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** parseValueRows takes the inline path and matches the UNION ALL of the
    * same (already substituted) tuples in types, nullability and rows. */
  private def assertMatchesUnion(e: Engine, table: String, tuples: String,
      union: String): Unit = {
    val got = e.parseValueRows(table, tuples)
    val want = spark.sql(union)
    assert(isLocal(got), got.queryExecution.optimizedPlan.treeString)
    assert(got.schema.map(f => (f.dataType, f.nullable)) ==
      want.schema.map(f => (f.dataType, f.nullable)))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("VALUES lists plan as one local relation typed like the UNION ALL") {
    val e = new Engine(spark)
    e.sql("CREATE TABLE vt (k INT PRIMARY KEY, d DECIMAL(10, 2))")
    assertMatchesUnion(e, "vt", "(1, 1), (2, 2.50)",
      "SELECT 1, 1 UNION ALL SELECT 2, 2.50")
    assertMatchesUnion(e, "vt", "(1, NULL), (2, 3)",
      "SELECT 1, NULL UNION ALL SELECT 2, 3")
    e.sql("CREATE TABLE vd (k INT PRIMARY KEY, d INT DEFAULT 7)")
    assertMatchesUnion(e, "vd", "(1, DEFAULT), (2, 5)",
      "SELECT 1, 7 UNION ALL SELECT 2, 5")
    e.sql("CREATE SEQUENCE vs START WITH 10")
    e.sql("CREATE TABLE vn (id BIGINT, v VARCHAR(5))")
    assertMatchesUnion(e, "vn", "(NEXTVAL('vs'), 'a'), (NEXTVAL('vs'), 'b')",
      "SELECT 10, 'a' UNION ALL SELECT 11, 'b'")
    val my = new Engine(spark)
    my.sql("SET MODE MySQL")
    my.sql("CREATE TABLE vz (k INT PRIMARY KEY, d DATE)")
    assertMatchesUnion(my, "vz", "(1, DATE '0000-00-00'), (2, DATE '2024-02-29')",
      "SELECT 1, CAST(NULL AS DATE) UNION ALL SELECT 2, DATE '2024-02-29'")

    // end to end through INSERT, with the defaults, sequence and zero date
    e.sql("INSERT INTO vd VALUES (1, DEFAULT), (2, 5)")
    assert(e.sql("SELECT k, d FROM vd").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq.sortBy(_._1) == Seq((1, 7), (2, 5)))
    e.sql("INSERT INTO vn VALUES (NEXTVAL('vs'), 'c'), (NEXTVAL('vs'), 'd')")
    assert(e.sql("SELECT id FROM vn").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(12L, 13L))
    my.sql("INSERT INTO vz VALUES (1, DATE '0000-00-00'), (2, DATE '2024-02-29')")
    assert(my.sql("SELECT k FROM vz WHERE d IS NULL").collect().map(_.getInt(0))
      .toSeq == Seq(1))
  }

  test("a VALUES tuple with a scalar subquery inserts through the UNION fallback") {
    val e = new Engine(spark)
    e.sql("CREATE TABLE vq (k INT PRIMARY KEY, v INT)")
    e.sql("INSERT INTO vq VALUES (1, 10)")
    val tuples = "(2, (SELECT MAX(v) FROM vq)), (3, 30)"
    val df = e.parseValueRows("vq", tuples)
    assert(df.queryExecution.analyzed.collectFirst { case u: Union => u }.isDefined)
    e.sql(s"INSERT INTO vq VALUES $tuples")
    assert(e.sql("SELECT k, v FROM vq").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq.sortBy(_._1) == Seq((1, 10), (2, 10), (3, 30)))
  }
}
