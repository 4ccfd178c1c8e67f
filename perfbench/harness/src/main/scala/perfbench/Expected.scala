package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprints and the committed values they are
  * checked against.
  *
  * A fingerprint is `<rows>:<sum of per-row xxhash64>` over the columns
  * sorted by name, the same canonical form the DuckDB oracle compare uses
  * (columns by name, rows in any order). Map columns, which Spark cannot
  * hash, enter as their JSON text. The committed values in
  * `perfbench/expected.json` were recorded by [[record]] from engine outputs
  * that `scripts/check_oracle.py` had compared equal to the oracle on the
  * same data. */
object Expected {

  def fingerprint(df: DataFrame): String = {
    val names = df.columns
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val hashed: Seq[Column] = names.indices.sortBy(names(_)).map { i =>
      val c = col(s"c$i")
      if (hasMap(renamed.schema(i).dataType)) to_json(c) else c
    }
    val h = if (hashed.isEmpty) lit(0L) else xxhash64(hashed: _*)
    val r = renamed.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def load(path: Path): Map[String, String] =
    if (Files.exists(path)) Json.parseFlat(Files.readString(path)) else Map.empty

  def write(path: Path, values: Map[String, String]): Unit =
    Files.writeString(path, values.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))

  /** Fingerprint the engine outputs a `graft.Verify` run wrote to
    * `verifyOut/<query>/` for every query of the query workloads, and
    * write them, with the kernel checksums and the input tables' row
    * counts, to `out`. */
  def record(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      verifyOut: String, out: Path): Unit = {
    val queries = Workloads.queryWorkloads.values.flatten.toSeq.distinct.sorted
    val fps = queries.map { q =>
      val fromVerify = fingerprint(spark.read.parquet(s"$verifyOut/$q"))
      val live = fingerprint(graft.SparkEntry.queries(q)(spark, dataDir))
      require(fromVerify == live,
        s"$q: live result $live differs from the checked output $fromVerify")
      s"query.$q" -> live
    }
    val kernels = KernelBench.checksums(spark, dataDir).map { case (k, v) =>
      s"kernel.$k" -> v.toString
    }
    val tables = Workloads.tables.values.flatten.toSeq.distinct.map { t =>
      s"table.$t" -> graft.core.Tables.load(spark, dataDir, t).count().toString
    }
    write(out, (fps ++ kernels ++ tables).toMap)
  }
}
