package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: name, start, end (epoch microseconds), the span that
  * caused it and the query it belongs to. */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startUs: Long, endUs: Long)

/** What the listeners saw during one phase (`construct` or `execute`) of one
  * query or statement. */
final class PhaseStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var loadJobs = 0L
  var loadMs = 0L
  var cutJobs = 0L
  var cutMs = 0L
  /** analysis + optimization + planning time of the query executions that
    * ran in this phase, from their own planning trackers */
  var planMs = 0L
  /** Spark's own duration of those query executions */
  var qeNs = 0L
  var exchanges = 0L
  /** task durations (ms) per stage, for the skew figure */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Collects spans in memory and folds Spark's job, stage, task and
  * query-execution events into per-phase [[PhaseStats]].
  *
  * Everything is observed from outside the engine: the harness labels each
  * call with `spark.job.description = <workload>/<query>/<phase>` through the
  * public SparkContext API, and a SparkListener attributes every job to the
  * description it was started under. Jobs are bucketed into the `core`
  * layer by the call site Spark records for their final stage: a call site
  * in `Tables.scala` is a table load (schema inference), one in
  * `Checkpoint.scala` is an eager lineage cut.
  *
  * Query-execution events carry no description; they are credited to the
  * phase that is open when they are delivered, which is exact because the
  * harness drains the listener bus before it closes a phase. Planning time
  * and exchanges come from the query execution that actually ran (a `noop`
  * write plans in its own QueryExecution, not in the DataFrame's). */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val openSpans = mutable.HashMap.empty[Int, (Int, String, String, Long)]

  /** Start a span and return its id. */
  def begin(parent: Int, name: String, query: String): Int = synchronized {
    nextId += 1
    openSpans(nextId) = (parent, name, query, nowUs)
    nextId
  }

  def end(id: Int): Unit = synchronized {
    openSpans.remove(id).foreach { case (parent, name, query, startUs) =>
      spans += Span(id, parent, name, query, startUs, nowUs)
    }
  }

  private def completed(parent: Int, name: String, query: String,
      startUs: Long, endUs: Long): Unit = synchronized {
    nextId += 1
    spans += Span(nextId, parent, name, query, startUs, endUs)
  }

  private val byDescription = mutable.HashMap.empty[String, PhaseStats]
  private val jobDescription = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobKind = mutable.HashMap.empty[Int, String]
  private val stageDescription = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val jobSpanParent = mutable.HashMap.empty[String, Int]
  @volatile private var openPhase: String = ""

  private def stats(desc: String): PhaseStats =
    byDescription.getOrElseUpdate(desc, new PhaseStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("unattributed")
      jobDescription(e.jobId) = desc
      jobStartMs(e.jobId) = e.time
      val finalStage = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobKind(e.jobId) =
        if (finalStage.contains("Tables.scala")) "load"
        else if (finalStage.contains("Checkpoint.scala")) "cut"
        else ""
      e.stageInfos.foreach(s => stageDescription(s.stageId) = desc)
      stats(desc).jobs += 1L
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val desc = jobDescription.getOrElse(e.jobId, "unattributed")
      val ms = e.time - jobStartMs.getOrElse(e.jobId, e.time)
      val st = stats(desc)
      jobKind.get(e.jobId) match {
        case Some("load") => st.loadJobs += 1; st.loadMs += ms
        case Some("cut") => st.cutJobs += 1; st.cutMs += ms
        case _ =>
      }
      completed(jobSpanParent.getOrElse(desc, 0),
        s"job ${e.jobId} ${jobKind.getOrElse(e.jobId, "")}".trim, desc,
        jobStartMs.getOrElse(e.jobId, e.time) * 1000L, e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmitMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stats(stageDescription.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = stats(stageDescription.getOrElse(e.stageId, "unattributed"))
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      st.taskWaitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.taskRunMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = Tracer.this.synchronized {
      val st = stats(openPhase)
      st.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      st.qeNs += durationNs
      st.exchanges += Tracer.exchanges(qe.executedPlan)
    }
  }

  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Listeners are attached only around traced passes, so untraced passes
    * in the same run pay nothing for them. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(qeListener)
  }

  private var phaseSpan = 0

  /** Open a phase under span `parent`: label the jobs it starts
    * (`<workload>/<query>/<phase>`) and route its events. */
  def open(parent: Int, workload: String, query: String, phase: String): Unit = {
    val desc = s"$workload/$query/$phase"
    phaseSpan = begin(parent, phase, query)
    synchronized { jobSpanParent(desc) = phaseSpan }
    openPhase = desc
    sc.setJobDescription(desc)
  }

  /** Close the open phase and return what it saw. */
  def close(): PhaseStats = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.setJobDescription(null)
    end(phaseSpan)
    val desc = openPhase
    openPhase = ""
    synchronized {
      jobSpanParent.remove(desc)
      byDescription.remove(desc).getOrElse(new PhaseStats)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = synchronized(spans.toSeq).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""query":${Json.str(s.query)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Exchanges in an executed plan, looking through adaptive execution and
    * its query stages; a reused exchange does no work and is not counted. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0L
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
