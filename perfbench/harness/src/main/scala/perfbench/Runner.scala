package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One executed request of a timed pass. */
final case class Sample(request: String, kind: String, wallNs: Long)

/** Per-layer totals of one traced pass. */
final class Layers {
  // queries: engine queries built by Q.fn
  var constructNs = 0L
  var constructJobs = 0L
  var planMs = 0L
  var exchanges = 0L
  var executeNs = 0L
  var residualNs = 0L
  val all = new PhaseStats
  // sqlfront: requests issued through Engine.sql by the workload itself
  val stmtMs = mutable.ArrayBuffer.empty[Double]
  val writeMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  var stmtJobs = 0L
  val stmtNodes = mutable.ArrayBuffer.empty[Long]

  def add(s: PhaseStats): Unit = {
    all.jobs += s.jobs; all.stages += s.stages; all.tasks += s.tasks
    all.failedTasks += s.failedTasks; all.taskRunMs += s.taskRunMs
    all.taskWaitMs += s.taskWaitMs; all.gcMs += s.gcMs
    all.shuffleWriteBytes += s.shuffleWriteBytes
    all.shuffleReadBytes += s.shuffleReadBytes
    all.spillBytes += s.spillBytes; all.inputBytes += s.inputBytes
    all.loadJobs += s.loadJobs; all.loadMs += s.loadMs
    all.cutJobs += s.cutJobs; all.cutMs += s.cutMs
    s.stageTaskMs.foreach { case (id, ts) =>
      all.stageTaskMs.getOrElseUpdate(id, mutable.ArrayBuffer.empty) ++= ts
    }
  }

  /** max / median task time of the stage with the most task time. */
  def skew: Double =
    if (all.stageTaskMs.isEmpty) 1.0
    else {
      val ts = all.stageTaskMs.values.maxBy(_.sum).sorted
      val median = ts(ts.size / 2)
      if (median <= 0L) 1.0 else ts.last.toDouble / median
    }
}

final case class PassResult(wallNs: Long, samples: Seq[Sample],
    attempted: Int, failures: Seq[String], peakStorageBytes: Long,
    layers: Option[Layers])

/** Runs passes of one workload: the single client issues each request after
  * the previous one completed (closed loop). */
final class Runner(spark: SparkSession, workload: Workload, tracer: Tracer) {
  private val sc = spark.sparkContext

  def storageBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def run(index: Int, check: Boolean, traced: Boolean): PassResult = {
    val requests = workload.pass(index, check)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    var peak = 0L
    val layers = if (traced) Some(new Layers) else None
    if (traced) tracer.attach()
    val passSpan = if (traced) tracer.begin(0, s"pass $index", "") else 0
    val t0 = System.nanoTime()
    requests.foreach { r =>
      val q0 = System.nanoTime()
      val qSpan = if (traced) tracer.begin(passSpan, r.name, r.name) else 0
      try layers match {
        case None =>
          r.run(r.build())
          samples += Sample(r.name, r.kind, System.nanoTime() - q0)
        case Some(l) =>
          tracer.open(qSpan, workload.name, r.name, "construct")
          val c0 = System.nanoTime()
          val built = r.build()
          val constructNs = System.nanoTime() - c0
          val cs = tracer.close()
          peak = math.max(peak, storageBytes())
          tracer.open(qSpan, workload.name, r.name, "execute")
          val e0 = System.nanoTime()
          r.run(built)
          val executeCallNs = System.nanoTime() - e0
          val es = tracer.close()
          val wallNs = System.nanoTime() - q0
          samples += Sample(r.name, r.kind, wallNs)
          l.add(cs); l.add(es)
          val planNs = es.planMs * 1000000L
          val executeNs = math.max(0L, es.qeNs - planNs)
          if (r.kind == "query") {
            l.constructNs += constructNs
            l.constructJobs += cs.jobs
          }
          l.planMs += es.planMs
          l.exchanges += es.exchanges
          l.executeNs += executeNs
          l.residualNs += wallNs - constructNs - planNs - executeNs
          if (r.kind != "query" && r.kind != "setup") {
            val ms = (constructNs + executeCallNs) / 1e6
            l.stmtMs += ms
            (if (r.kind == "write") l.writeMs else l.readMs) += ms
            l.stmtJobs += cs.jobs + es.jobs
            l.stmtNodes += workload.stateNodes()
          }
      } catch {
        case e: Throwable =>
          if (traced) tracer.close()
          failures += s"${workload.name}/${r.name}: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
      } finally if (traced) {
        tracer.end(qSpan)
        peak = math.max(peak, storageBytes())
      }
    }
    val wallNs = System.nanoTime() - t0
    if (traced) {
      tracer.end(passSpan)
      tracer.detach()
    }
    PassResult(wallNs, samples.toSeq, requests.size, failures.toSeq, peak, layers)
  }
}
