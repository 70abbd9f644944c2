package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer, plus the
  * job, stage, query and streaming records Spark's public listeners report.
  *
  * Spans nest `run` → `pass` → `op:<name>` → `entry.build` / `exec.action`
  * / `sources.<fn>` / `plans.sql` / `util.release`. The id of the innermost
  * open span rides the local property [[SpanProperty]], so every Spark job
  * a call launches names its parent span. Everything is kept in memory and
  * dumped once, after the timed window. Outside the window, or with
  * `enabled = false`, no listener is registered and [[span]] only runs its
  * body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond digits, on the listener clock. */
  def nowMs(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Long]
  private var nextId = 1L
  @volatile private var windowStartMs = Double.MaxValue
  private var started = false
  /** Whether the traced window is open: spans and counters are recorded. */
  def active: Boolean = started

  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), TaskSums]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!started) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs()
      try body
      finally {
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
        spans.synchronized { spans += Span(id, parent, name, start, nowMs()) }
      }
    }

  /** Adds `v` to a named counter (inside a traced window only). */
  def add(name: String, v: Double): Unit =
    if (started) counters.synchronized {
      counters(name) = counters.getOrElse(name, 0.0) + v
    }

  /** Keeps the larger of the stored value and `v` (inside a traced window only). */
  def max(name: String, v: Double): Unit =
    if (started) counters.synchronized {
      counters(name) = math.max(counters.getOrElse(name, 0.0), v)
    }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs += Map("id" -> e.jobId, "span" -> span, "start" -> e.time.toDouble)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs += Map("id" -> e.jobId, "end" -> e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSums)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val i = e.stageInfo
      val s = stageTasks.remove((i.stageId, i.attemptNumber())).getOrElse(new TaskSums)
      stages += Map("id" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
        "start" -> i.submissionTime.getOrElse(0L).toDouble,
        "end" -> i.completionTime.getOrElse(0L).toDouble,
        "num_tasks" -> i.numTasks, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spill, "input_bytes" -> s.inputBytes,
        "output_bytes" -> s.outputBytes, "peak_exec_mem_bytes" -> s.peakMem)
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      val plan = qe.executedPlan
      val broadcast = PlanWalk.find(plan) { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      queries.synchronized {
        queries += Map("func" -> funcName, "ok" -> ok, "start" -> start,
          "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
          "planning_ms" -> phaseMs("planning"), "plan_nodes" -> PlanWalk.nodes(plan),
          "broadcast_bytes" -> broadcast)
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.synchronized {
        progress += Map(
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "batch_ms" -> p.batchDuration, "input_rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  /** Starts the traced window: records from here on are kept. */
  def start(): Unit = if (enabled) {
    started = true
    windowStartMs = nowMs()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Ends the traced window once Spark has delivered every pending event. */
  def stop(): Unit = if (enabled) {
    started = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything recorded inside the window, as JSON-ready maps. */
  def dump(): Map[String, Any] = {
    def inWindow(rows: Seq[Map[String, Any]]) =
      rows.filter(_.get("start").forall(_.asInstanceOf[Double] >= windowStartMs))
    // a job's end record carries no start time; keep it when its start was kept
    val startedJobs = jobs.filter(_.contains("start")).filter(r =>
      r("start").asInstanceOf[Double] >= windowStartMs).map(_("id")).toSet
    Map(
      "window_start_ms" -> windowStartMs,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.toSeq.filter(j => startedJobs(j("id"))),
      "stages" -> stages.toSeq.filter(s => startedJobs(s("job"))),
      "queries" -> inWindow(queries.toSeq),
      "streaming" -> inWindow(progress.toSeq),
      "counters" -> counters.toMap)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

  private final class TaskSums {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var outputBytes = 0L; var peakMem = 0L
  }
}

/** Walks a physical plan through adaptive query stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def find[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collectWithSubqueries(plan)(pf)

  def nodes(plan: SparkPlan): Int = find(plan) { case p => p }.size

  /** (files read, files listed) of every scan over a manifest-backed table. */
  def manifestScans(plan: SparkPlan): Seq[(Long, Long)] = find(plan) {
    case s: FileSourceScanExec if s.relation.location.isInstanceOf[graft.sources.ManifestFileIndex] =>
      (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        s.relation.location.inputFiles.length.toLong)
  }
}
