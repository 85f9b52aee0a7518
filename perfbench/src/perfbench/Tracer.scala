package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed boundary crossing. Times are epoch milliseconds (fractional),
  * so spans from the benchmark's own clock and from Spark's listener
  * events share one axis. `parent` is resolved when the run ends: the
  * shortest span of the same request that encloses this one. */
final case class Span(id: Int, name: String, layer: String, req: String,
    start: Double, end: Double, var parent: Int = -1) {
  def ms: Double = end - start
}

/** Spans and counters for a traced run; a no-op when disabled.
  *
  * The program is measured from outside: the benchmark times its own
  * calls into each module and registers a [[SparkListener]], a
  * [[StreamingQueryListener]] and a [[QueryExecutionListener]] (which
  * reads each `QueryExecution.tracker`). Every hook times itself, and
  * the sum is reported as the tracing overhead. */
final class Tracer(val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val overheadNs = new AtomicLong(0L)

  def nowMs(nanos: Long = System.nanoTime()): Double =
    epoch0 + (nanos - nano0) / 1e6

  def add(key: String, v: Double): Unit =
    if (enabled) counters.merge(key, v, (a, b) => a + b): Unit
  def counter(key: String): Double =
    Option(counters.get(key)).map(_.doubleValue).getOrElse(0.0)
  def counterMap: Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** Spans are kept only inside the measured window (between
    * [[Tracing.attach]] and its detach), not during warm-up. */
  @volatile var recording = false

  def record(name: String, layer: String, req: String, start: Double,
      end: Double): Unit = if (enabled && recording) {
    val t = System.nanoTime()
    spans.synchronized { spans += Span(spans.size, name, layer, req, start, end) }
    overheadNs.addAndGet(System.nanoTime() - t)
  }

  /** Time `body` as a span; when tracing is off, only `body` runs. */
  def span[T](name: String, layer: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = System.nanoTime()
      try body finally record(name, layer, req, nowMs(s), nowMs())
    }

  def hook[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t)
  }

  def overheadMs: Double = overheadNs.get / 1e6

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Resolve parents and return each layer's exclusive time: every
    * instant of a request is charged to the innermost span open at that
    * instant (ties go to the later start), so a request's layer times
    * sum to its duration even when sibling jobs overlap. */
  def selfTimeByLayer(): Map[String, Double] = {
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    allSpans.groupBy(_.req).values.foreach { group =>
      group.foreach { s =>
        val enclosing = group.filter(p => p.id != s.id && p.start <= s.start &&
          p.end >= s.end && (p.ms > s.ms || (p.ms == s.ms && p.id < s.id)))
        if (enclosing.nonEmpty) s.parent = enclosing.minBy(_.ms).id
      }
      val byId = group.map(s => s.id -> s).toMap
      def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
      val depths = group.map(s => s.id -> depth(s)).toMap
      val cuts = group.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = group.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val inner = open.maxBy(s => (depths(s.id), s.start))
          out(inner.layer) += b - a
        }
      }
    }
    out.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map(s => Json(Map("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "req" -> s.req, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Scheduler-side counters (`exec.*`), attributed to the request id the
  * benchmark sets as the `perfbench.req` local property. */
final class ExecListener(tr: Tracer) extends SparkListener {
  private val stageReq = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Boolean]()

  override def onJobStart(e: SparkListenerJobStart): Unit = tr.hook {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.req")))
      .getOrElse("-")
    jobStart.put(e.jobId, (e.time.toDouble, req))
    e.stageIds.foreach { s => stageReq.put(s, req); jobOfStage.put(s, e.jobId) }
    tr.add("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = tr.hook {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, req) =>
      tr.record(s"job-${e.jobId}", "exec", req, t0, e.time.toDouble)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = tr.hook {
    val job = jobOfStage.getOrDefault(e.stageId, -1)
    if (job >= 0 && firstLaunch.putIfAbsent(job, true) == null)
      Option(jobStart.get(job)).foreach { case (t0, _) =>
        tr.add("exec.sched_wait_ms", math.max(0.0, e.taskInfo.launchTime - t0))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tr.hook(tr.add("exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tr.hook {
    tr.add("exec.tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) tr.add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val req = stageReq.getOrDefault(e.stageId, "-")
      tr.add("exec.task_run_ms", m.executorRunTime.toDouble)
      tr.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      tr.add(s"req.cpu_ms.$req", m.executorCpuTime / 1e6)
      tr.add("exec.gc_ms", m.jvmGCTime.toDouble)
      tr.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      tr.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tr.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      tr.add("exec.spill_disk_bytes", m.diskBytesSpilled.toDouble)
      tr.add("exec.spill_memory_bytes", m.memoryBytesSpilled.toDouble)
    }
  }
}

/** Micro-batch progress (`streaming.*`) from Structured Streaming's public
  * listener. */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = tr.hook {
    val d = e.progress.durationMs
    def get(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    if (e.progress.numInputRows > 0) {
      tr.add("streaming.triggers", 1)
      tr.add("streaming.trigger_ms", get("triggerExecution"))
      tr.add("streaming.offset_ms", get("latestOffset"))
      tr.add("streaming.planning_ms", get("queryPlanning"))
      tr.add("streaming.wal_commit_ms", get("walCommit") + get("commitOffsets"))
    }
  }
}

/** Planning phases and rule statistics (`plans.*`) of every query that
  * completes an action, from each `QueryExecution.tracker`. */
final class PlanListener(tr: Tracer) extends QueryExecutionListener {
  private def note(qe: QueryExecution): Unit = tr.hook {
    val t = qe.tracker
    t.phases.foreach { case (phase, s) => tr.add(s"plans.${phase}_ms", s.durationMs.toDouble) }
    t.rules.foreach { case (rule, s) =>
      tr.add("plans.rule_invocations", s.numInvocations.toDouble)
      tr.add("plans.rule_effective", s.numEffectiveInvocations.toDouble)
      if (rule.startsWith("graft.")) tr.add("plans.graft_rules_ms", s.totalTimeNs / 1e6)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    note(qe)
}

object Tracing {
  /** Register the listeners; returns a function that drains the listener
    * bus and removes them. */
  def attach(spark: SparkSession, tr: Tracer): () => Unit = {
    val exec = new ExecListener(tr)
    val stream = new StreamListener(tr)
    val plans = new PlanListener(tr)
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(stream)
    spark.listenerManager.register(plans)
    tr.recording = true
    () => {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      tr.recording = false
      spark.sparkContext.removeSparkListener(exec)
      spark.streams.removeListener(stream)
      spark.listenerManager.unregister(plans)
    }
  }

  /** Spans for the planning phases of one query the benchmark ran itself,
    * so they nest inside that request. */
  def planSpans(tr: Tracer, qe: QueryExecution, req: String): Unit =
    if (tr.enabled) tr.hook {
      qe.tracker.phases.foreach { case (phase, s) =>
        tr.record(s"plans.$phase", "plans", req, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
}
