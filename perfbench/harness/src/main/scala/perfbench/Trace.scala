package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional). A span
  * whose `parent` or `step` is 0 is placed by time when it is read. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      step: Long, t0: Double, t1: Double,
                      attrs: Seq[(String, Double)] = Nil) {
  def json: String = {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":$id,"parent":$parent,"kind":${Json.str(kind)},"name":${Json.str(name)},""" +
      s""""step":$step,"t0":${Json.num(t0)},"t1":${Json.num(t1)},"a":{$a}}"""
  }
}

/** The in-memory span store of one JVM. Recording is off unless
  * `perfbench.trace=1` or the harness turns it on for a traced pass;
  * spans are written out only when the run ends. */
object Trace {
  @volatile var on: Boolean = sys.props.get("perfbench.trace").contains("1")

  /** Local-property keys the harness sets on its own thread. */
  val StepKey = "perfbench.step"
  val SpanKey = "perfbench.span"

  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = if (on) spans.synchronized { spans += s }
  def all(): Seq[Span] = spans.synchronized { spans.toList }

  /** Each SparkContext's start (listener bus up) and stop, traced or not. */
  val apps = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile var master: String = ""
}

object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Jobs, stages and tasks. Registered through `spark.extraListeners`. */
class JobListener extends SparkListener {
  private case class OpenJob(t0: Double, step: Long, parent: Long, stages: Int)
  private val jobs = mutable.Map.empty[Int, OpenJob]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, (Long, Long)] // stage -> (job span, step)
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  private var appStart = 0.0

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStart = Trace.now()

  override def onEnvironmentUpdate(e: SparkListenerEnvironmentUpdate): Unit =
    e.environmentDetails.get("Spark Properties").flatMap(_.find(_._1 == "spark.master"))
      .foreach(kv => Trace.master = kv._2)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Trace.apps.synchronized { Trace.apps += (appStart -> Trace.now()) }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) synchronized {
    val step = prop(e.properties, Trace.StepKey)
    val id = Trace.newId()
    jobs(e.jobId) = OpenJob(e.time.toDouble, step, prop(e.properties, Trace.SpanKey),
      e.stageIds.size)
    jobSpan(e.jobId) = id
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = (id, step))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (j <- jobs.remove(e.jobId); id <- jobSpan.remove(e.jobId)) {
      val failed = e.jobResult match { case JobSucceeded => 0.0; case _ => 1.0 }
      Trace.add(Span(id, j.parent, "job", s"job${e.jobId}", j.step, j.t0, e.time.toDouble,
        Seq("stages" -> j.stages.toDouble, "failed" -> failed)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on) synchronized {
    if (e.taskMetrics != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val times = taskTimes.remove((info.stageId, info.attemptNumber()))
      .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val (parent, step) = stageJob.getOrElse(info.stageId, (0L, 0L))
    val tm = info.taskMetrics
    if (Trace.on && tm != null) {
      val med = if (times.isEmpty) 0.0 else times(times.size / 2).toDouble
      val sr = tm.shuffleReadMetrics
      Trace.add(Span(Trace.newId(), parent, "stage", s"stage${info.stageId}", step,
        info.submissionTime.getOrElse(0L).toDouble,
        info.completionTime.getOrElse(0L).toDouble,
        Seq(
          "tasks" -> info.numTasks.toDouble,
          "run_ms" -> tm.executorRunTime.toDouble,
          "cpu_ns" -> tm.executorCpuTime.toDouble,
          "gc_ms" -> tm.jvmGCTime.toDouble,
          "in_bytes" -> tm.inputMetrics.bytesRead.toDouble,
          "in_rows" -> tm.inputMetrics.recordsRead.toDouble,
          "out_bytes" -> tm.outputMetrics.bytesWritten.toDouble,
          "out_rows" -> tm.outputMetrics.recordsWritten.toDouble,
          "sh_w_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
          "sh_r_bytes" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
          "fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
          "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble,
          "task_max_ms" -> (if (times.isEmpty) 0.0 else times.last.toDouble),
          "task_med_ms" -> med,
          "failed" -> (if (info.failureReason.isDefined) 1.0 else 0.0))))
    }
  }
}

/** Catalyst phases and scanned files of every action. Registered through
  * `spark.sql.queryExecutionListeners`; the step is placed by time. */
class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private def record(func: String, qe: QueryExecution, failed: Boolean): Unit =
    if (Trace.on) {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      val files = try collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum catch { case _: Throwable => 0L }
      val t0 = if (starts.isEmpty) Trace.now() else starts.min.toDouble
      val t1 = if (ends.isEmpty) t0 else ends.max.toDouble
      Trace.add(Span(Trace.newId(), 0L, "plan", func, 0L, t0, t1, Seq(
        "analysis_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
        "physical_ms" -> ms("planning"), "files" -> files.toDouble,
        "failed" -> (if (failed) 1.0 else 0.0))))
    }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, failed = false)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, failed = true)
}

/** Micro-batch progress. Registered through
  * `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Trace.on) {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Trace.add(Span(Trace.newId(), 0L, "batch", Option(p.name).getOrElse(p.id.toString), 0L,
      t0, t0 + d("triggerExecution"), Seq(
        "trigger_ms" -> d("triggerExecution"), "plan_ms" -> d("queryPlanning"),
        "add_batch_ms" -> d("addBatch"), "commit_ms" -> (d("commitOffsets") + d("walCommit")),
        "rows" -> p.numInputRows.toDouble,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)))
  }
}
