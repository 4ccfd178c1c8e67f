package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf dir> --work <scratch dir> --expected <file> --cores <n>
  *   --t0-ms <epoch ms at launch>
  * perfbench.Main --record <verify output dir> --data <sf dir>
  *   --work <scratch dir> --expected <file> --cores <n>
  * }}}
  *
  * A run: boot one local Spark session, prepare the workload's inputs, run
  * one untimed warm-up pass that checks every result; `setup_s` is the time
  * from launch (`--t0-ms`) until here. Then timed passes until `--seconds`
  * have passed (at least [[minPasses]]). With `--trace 1` the timed passes
  * alternate between untraced and traced, the per-layer numbers come from
  * the traced ones, and the kernel rates of the `functions` layer are
  * measured after them.
  * The last stdout line is the result object. */
object Main {

  val minPasses = 3
  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = session(cores, work)
    val expected = Expected.load(Paths.get(opts("expected")))
    val exit =
      if (opts.contains("record")) {
        Expected.record(spark, opts("data"), opts("record"), Paths.get(opts("expected")))
        0
      } else measure(spark, opts, expected, work)
    spark.stop()
    sys.exit(exit)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Percentile with linear interpolation between order statistics. */
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  private def measure(spark: SparkSession, opts: Map[String, String],
      expected: Map[String, String], work: Path): Int = {
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("data")
    val t0Ms = opts("t0-ms").toLong
    val bootS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val workload = Workloads(workloadName, spark, dir, seed, expected)
    val tracer = new Tracer(spark)
    val runner = new Runner(spark, workload, tracer)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val p0 = System.nanoTime()
    workload.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime()
    val warm = runner.run(0, check = true, traced = false)
    attempted += warm.attempted
    failures ++= warm.failures
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    System.err.println(f"[perfbench] $workloadName seed=$seed boot=$bootS%.2fs " +
      f"prepare=$prepS%.2fs warm-up=$warmS%.2fs")

    val passes = mutable.ArrayBuffer.empty[PassResult]
    val tracedPasses = mutable.ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 1
    def enough = {
      val done = passes.size
      val typical = median(passes.map(_.wallNs / 1e9).toSeq ++ tracedPasses.map(_.wallNs / 1e9))
      done >= minPasses && (!traced || tracedPasses.size >= 2) &&
        elapsed + typical > seconds
    }
    while (!enough) {
      val asTraced = traced && i % 2 == 0
      val r = runner.run(i, check = false, traced = asTraced)
      (if (asTraced) tracedPasses else passes) += r
      attempted += r.attempted
      failures ++= r.failures
      System.err.println(f"[perfbench] pass $i${if (asTraced) " traced" else ""} " +
        f"${r.wallNs / 1e9}%.3fs failed=${r.failures.size}")
      i += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(passes.toSeq, setupS)
      else {
        // storage still held after the last pass, once the JVM has
        // collected garbage and Spark's cleaner has dropped unreachable
        // blocks: the one GC of the run
        System.gc()
        Thread.sleep(500)
        val retainedMb = runner.storageBytes() / MB
        perLayer(spark, dir, passes.toSeq, tracedPasses.toSeq, retainedMb,
          expected, failures)
      }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (traced) tracer.writeSpans(work.resolve("trace")
      .resolve(s"$workloadName-seed$seed.jsonl"))
    val ok = failures.isEmpty
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": ${failures.size}, "metrics": $body}""")
    if (ok) 0 else 1
  }

  private def endToEnd(passes: Seq[PassResult],
      setupS: Double): Seq[(String, Double, String)] = {
    // each request's median over the timed passes; the latency percentiles
    // are taken over these, so a request mix of a few fixed, very different
    // requests does not put a percentile on the edge between two of them
    val perRequest = passes.flatMap(_.samples).filter(_.kind != "setup")
      .groupBy(_.request).toSeq.sortBy(_._1).map { case (n, ss) =>
        val med = median(ss.map(_.wallNs / 1e9))
        System.err.println(f"[perfbench] median $n $med%.3fs over ${ss.size} passes")
        med
      }
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(passes.map(_.wallNs / 1e9)), "s"),
      ("query_geomean_s", math.exp(perRequest.map(math.log).sum / perRequest.size), "s"),
      ("stmt_p50_ms", 1000 * percentile(perRequest, 0.5), "ms"),
      ("stmt_p90_ms", 1000 * percentile(perRequest, 0.9), "ms"))
  }

  private def perLayer(spark: SparkSession, dir: String, untraced: Seq[PassResult],
      traced: Seq[PassResult], retainedMb: Double, expected: Map[String, String],
      failures: mutable.ArrayBuffer[String]): Seq[(String, Double, String)] = {
    val ls = traced.flatMap(_.layers)
    def m(f: Layers => Double): Double = median(ls.map(f))
    val overheadPct = 100.0 * (median(traced.map(_.wallNs.toDouble)) /
      median(untraced.map(_.wallNs.toDouble)) - 1.0)
    val kernels = KernelBench.run(spark, dir)
    kernels.foreach { k =>
      val want = expected.getOrElse(s"kernel.${k.name}", "<none recorded>")
      if (k.checksum.toString != want)
        failures += s"functions/${k.name}: checksum ${k.checksum}, expected $want"
    }
    Seq(
      ("sqlfront.stmt_ms", m(l => median(l.stmtMs.toSeq)), "ms"),
      ("sqlfront.write_ms", m(l => median(l.writeMs.toSeq)), "ms"),
      ("sqlfront.read_ms", m(l => median(l.readMs.toSeq)), "ms"),
      ("sqlfront.jobs_per_stmt", m(l =>
        if (l.stmtMs.isEmpty) 0.0 else l.stmtJobs.toDouble / l.stmtMs.size), "count"),
      ("sqlfront.plan_nodes", m(l =>
        if (l.stmtNodes.isEmpty) 0.0 else l.stmtNodes.sum.toDouble / l.stmtNodes.size), "count"),
      ("queries.construct_s", m(_.constructNs / 1e9), "s"),
      ("queries.construct_jobs", m(_.constructJobs.toDouble), "count"),
      ("core.load_s", m(_.all.loadMs / 1e3), "s"),
      ("core.load_jobs", m(_.all.loadJobs.toDouble), "count"),
      ("core.cut_s", m(_.all.cutMs / 1e3), "s"),
      ("core.cut_jobs", m(_.all.cutJobs.toDouble), "count"),
      ("core.storage_mb", median(traced.map(_.peakStorageBytes / MB)), "MB"),
      ("core.retained_mb", retainedMb, "MB"),
      ("catalyst.plan_s", m(_.planMs / 1e3), "s"),
      ("catalyst.exchanges", m(_.exchanges.toDouble), "count"),
      ("exec.execute_s", m(_.executeNs / 1e9), "s"),
      ("exec.jobs", m(_.all.jobs.toDouble), "count"),
      ("exec.stages", m(_.all.stages.toDouble), "count"),
      ("exec.tasks", m(_.all.tasks.toDouble), "count"),
      ("exec.task_s", m(_.all.taskRunMs / 1e3), "s"),
      ("exec.task_wait_s", m(_.all.taskWaitMs / 1e3), "s"),
      ("exec.shuffle_write_mb", m(_.all.shuffleWriteBytes / MB), "MB"),
      ("exec.shuffle_read_mb", m(_.all.shuffleReadBytes / MB), "MB"),
      ("exec.spill_mb", m(_.all.spillBytes / MB), "MB"),
      ("exec.skew", m(_.skew), "ratio"),
      ("exec.gc_s", m(_.all.gcMs / 1e3), "s"),
      ("exec.input_mb", m(_.all.inputBytes / MB), "MB"),
      ("exec.failed_tasks", m(_.all.failedTasks.toDouble), "count"),
      ("trace.overhead_pct", overheadPct, "%"),
      ("trace.residual_s", m(_.residualNs / 1e9), "s")) ++
      kernels.map(k => (s"functions.${k.name}_rows_per_s", k.rowsPerSecond, "1/s"))
  }
}
