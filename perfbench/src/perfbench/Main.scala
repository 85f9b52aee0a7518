package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `samples` are raw
  * per-operation measurements (percentiles are taken by the Python side,
  * which refuses a percentile without enough samples beyond it);
  * `values` are scalar end-to-end inputs; `layers` are the traced run's
  * per-layer metrics. */
final class RunResult {
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def sample(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }
}

/** Arguments shared by every workload. `work` is the run's private temp
  * root (Spark local, warehouse and checkpoint dirs live under it). */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long,
    seconds: Double, input: Path, work: Path, out: Path,
    params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
  def cores: Int = spark.sparkContext.defaultParallelism
}

object Main {
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap

  def peakRssMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    val line = status.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val workload = a("workload")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Graft.session(master = s"local[$cores]",
      shufflePartitions = cores, appName = s"perfbench-$workload")
    val sessionStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tr = new Tracer(trace)
    val ctx = Ctx(spark, tr, a("seed").toLong, a("seconds").toDouble,
      Paths.get(a("input")), Paths.get(a("work")), Paths.get(a("out")),
      a.filter(_._1.startsWith("p.")).map { case (k, v) => k.stripPrefix("p.") -> v })
    val res = new RunResult
    res.setup("session_start_s") = sessionStartS
    val code =
      try {
        workload match {
          case "query_mix" => QueryMix.run(ctx, res)
          case "corpus_prep" => CorpusPrep.run(ctx, res)
          case "index_ingest" => IndexIngest.run(ctx, res)
          case "session" => () // the session start alone: records the class-data archive
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          3
      }
    res.values("peak_rss_mb") = peakRssMb()
    if (trace) {
      res.layers("session.start_ms") = sessionStartS * 1000.0
      tr.writeSpans(ctx.out.resolveSibling(s"$workload.spans.jsonl"))
    }
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
      "warehouse_dir" -> spark.conf.get("spark.sql.warehouse.dir"))
    val record = Map(
      "workload" -> workload, "trace" -> trace, "exit" -> code, "env" -> env,
      "setup" -> res.setup, "samples" -> res.samples, "values" -> res.values,
      "layers" -> res.layers, "checks" -> res.checks,
      "attempted" -> res.attempted, "failed" -> res.failed)
    Files.write(ctx.out, Json(record).getBytes("UTF-8"))
    spark.stop()
    sys.exit(code)
  }

  /** Seconds since `t0` (a `System.nanoTime` reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of every regular file under `dir` (0 when absent). */
  def duBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Zipf(s) sampler over ranks 0..n-1. */
  final class Zipf(n: Int, s: Double, rng: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Run `body` with the request id visible to the listeners. */
  def asRequest[T](spark: SparkSession, req: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.req", req)
    try body finally sc.setLocalProperty("perfbench.req", null)
  }

  /** Per-layer self times (and shares of `totalMs`) from the spans. */
  def layerTimes(tr: Tracer, res: RunResult, totalMs: Double): Unit = if (tr.enabled) {
    val self = tr.selfTimeByLayer()
    Seq("client", "session", "entry", "plans", "operators", "functions", "sources",
      "streaming", "exec").foreach { l =>
      val ms = self.getOrElse(l, 0.0)
      res.layers(s"layer.$l.self_ms") = ms
      res.layers(s"layer.$l.share") = if (totalMs > 0) ms / totalMs else 0.0
    }
    res.layers("trace.spans") = tr.allSpans.size.toDouble
  }

  /** Counters every traced run reports, read after the listener bus is
    * drained. `wallMs` is the measured window, `workMs` the summed time
    * of the workload's operations in it. */
  def execLayers(ctx: Ctx, res: RunResult, wallMs: Double, workMs: Double): Unit =
      if (ctx.tr.enabled) {
    val c = ctx.tr.counterMap
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
      "exec.sched_wait_ms", "exec.gc_ms", "exec.input_bytes", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.spill_disk_bytes", "exec.spill_memory_bytes",
      "exec.failed_tasks", "streaming.triggers", "streaming.trigger_ms",
      "streaming.offset_ms", "streaming.planning_ms", "streaming.wal_commit_ms",
      "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
      "plans.graft_rules_ms").foreach(k => res.layers(k) = c.getOrElse(k, 0.0))
    val inv = c.getOrElse("plans.rule_invocations", 0.0)
    res.layers("plans.rules_effective_frac") =
      if (inv > 0) c.getOrElse("plans.rule_effective", 0.0) / inv else 0.0
    res.layers("exec.core_busy_frac") =
      c.getOrElse("exec.task_run_ms", 0.0) / (wallMs * ctx.cores)
    res.layers("plans.share") = (c.getOrElse("plans.analysis_ms", 0.0) +
      c.getOrElse("plans.optimization_ms", 0.0) + c.getOrElse("plans.planning_ms", 0.0)) /
      math.max(workMs, 1e-9)
    res.layers("trace.overhead_ms") = ctx.tr.overheadMs
    res.layers("trace.overhead_frac") = ctx.tr.overheadMs / wallMs
  }
}
