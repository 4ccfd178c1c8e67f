package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage cut with a selectable durability mode.
  *
  * Iterative operators (LSH dedup, label propagation, recursive CTEs) must
  * cut lineage every round or plan compilation blows up. The SQL front door
  * is the other caller: every DML write commits its table's next version
  * through a cut (`Engine.commitVersion`), so a long session's tables stay
  * flat scans. HOW they cut it is a durability trade the caller's cluster
  * dictates:
  *
  *  - `local` (default): `localCheckpoint` — no disk round-trip, but blocks
  *    live on executors, so an executor loss (or dynamic-allocation
  *    downscale) mid-iteration kills the job unrecoverably.
  *  - `reliable`: `checkpoint()` to the SparkContext checkpoint directory —
  *    survives executor loss; the right mode on a real cluster, and for
  *    SQL-door tables that must outlive executors (a committed table
  *    version in `local` mode is lost with the executor holding its
  *    blocks). The directory comes from `spark.graft.checkpoint.dir` (set
  *    lazily on first use) so callers need no SparkContext plumbing.
  *
  * Select with `spark.conf.set("spark.graft.checkpoint.mode", "reliable")`.
  * On a multi-node master, reliable mode REQUIRES an explicit
  * `spark.graft.checkpoint.dir` on shared storage (HDFS/S3): the
  * java.io.tmpdir fallback is node-local, so executors would write
  * checkpoint blocks to their own disks and recovery reads would fail —
  * it only appears to work in local mode. Checkpoint files accumulate per
  * app run; set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (or clean the directory between runs) on long-lived sessions.
  *
  * The reference has no equivalent (single-node MVCC storage is its
  * durability story); this is the Spark-native translation of that
  * guarantee for iterative operators.
  */
object Checkpoint {

  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  def cut(df: DataFrame): DataFrame = {
    // Streaming frames cannot checkpoint mid-plan (and don't need the
    // plan-compilation cut: a microbatch plan is built fresh per trigger).
    // Passing through keeps batch operators that use cut() as a
    // materialization barrier (e.g. chunkText) usable on streams —
    // with the documented cost that whatever the cut would have
    // materialized is recomputed per consumer within the microbatch.
    if (df.isStreaming) return df
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val explicit = spark.conf.getOption(DirKey)
          if (explicit.isEmpty && !spark.sparkContext.isLocal)
            throw new IllegalStateException(
              s"$ModeKey=reliable on a non-local master requires $DirKey " +
                "on shared storage (HDFS/S3): the node-local tmpdir fallback " +
                "would strand checkpoint blocks on individual executors")
          spark.sparkContext.setCheckpointDir(explicit.getOrElse(
            sys.props("java.io.tmpdir") + "/graft_checkpoints"))
        }
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }
}
