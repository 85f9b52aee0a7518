package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** `query_mix`: one closed-loop client runs `SparkEntry.queries` entries
  * over a small star schema, in passes of a fixed Zipf-proportioned mix,
  * each pass in a seeded order, and collects each result to the driver. */
object QueryMix {
  /** The reference's MapReduce surface. */
  val mapReduce: Seq[String] = Seq("q_word_count", "q_avg_by_key", "q_grep", "q_sort",
    "q_top_k", "q_distinct", "mr_word_count", "mr_avg_by_key")

  /** The TPC-H-style group, `q1_agg` through `q22_idle` in entry order. */
  val tpch: Seq[String] = Seq("q1_agg", "q3_join", "q5_join", "q_window", "q_rollup",
    "q_semi_anti", "q_bloom_semi", "q_bloom_anti", "q_having", "q_cube", "q_setops",
    "q_distinct_count", "q_median", "q_quantiles", "q_ntile", "q_grouping_sets",
    "q_outer_join", "q_histogram", "q_string_agg", "q_sketch", "q_kmv", "q_cms",
    "q_kmv_join", "q_qsketch", "q_argmin", "q17_small_qty", "q6_forecast", "q14_promo",
    "q10_returns", "q12_late_priority", "q_pivot", "q_unpivot", "q_running_total",
    "q_moving_avg", "q4_exists", "q13_custdist", "q22_idle")

  /** Popularity ranks: the two groups interleaved, then the rest of the
    * longer one. Fixed, so a seed changes the draw, never which query
    * is popular. */
  val ranked: Seq[String] = {
    val (a, b) = (mapReduce, tpch)
    a.zip(b).flatMap { case (x, y) => Seq(x, y) } ++ b.drop(a.size)
  }

  /** One pass of the mix: `n` requests whose counts follow Zipf(s) over
    * the ranks (largest remainder), so every pass, and every run, holds
    * the same queries in the same proportions. */
  def pass(s: Double, n: Int): Seq[String] = {
    val w = ranked.indices.map(r => 1.0 / math.pow(r + 1, s))
    val quota = w.map(_ / w.sum * n)
    val floors = quota.map(math.floor(_).toInt)
    val extra = quota.indices.sortBy(i => -(quota(i) - floors(i))).take(n - floors.sum).toSet
    ranked.indices.flatMap(i => Seq.fill(floors(i) + (if (extra(i)) 1 else 0))(ranked(i)))
  }

  /** Order-insensitive fingerprint of a collected result. */
  def fingerprint(rows: Array[Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode

  def run(ctx: Ctx, res: RunResult): Unit = {
    val spark = ctx.spark
    val dir = ctx.input.resolve("tables").toString
    val entries = graft.SparkEntry.queries
    val fns = ranked.map(n => n -> entries(n)).toMap
    val mix = pass(ctx.dbl("zipf_s"), ctx.int("pass_size"))
    val rng = new scala.util.Random(ctx.seed)

    // untimed warm-up: whole passes of the mix (codegen, the parquet
    // reader, the collect path, then the JIT; with one run of each query
    // the latencies still fell by a third over the window), so the window
    // measures warm queries
    val w0 = System.nanoTime()
    (0 until ctx.int("warmup_passes")).foreach { _ =>
      rng.shuffle(mix).foreach(n => fns(n)(spark, dir).collect())
    }
    res.setup("warmup_s") = Main.since(w0)

    val first = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val prints = mutable.HashMap.empty[String, Int]
    val counts = mutable.LinkedHashMap.empty[String, Int]
    val detach = if (ctx.tr.enabled) Tracing.attach(spark, ctx.tr) else () => ()
    val t0 = System.nanoTime()
    var i = 0
    var totalMs = 0.0
    // whole passes, each in a seeded order, until the window is over and
    // the median has enough samples
    val minRequests = ctx.int("min_requests")
    val requests = Iterator.continually(rng.shuffle(mix)).flatten
    while (i % mix.size != 0 || Main.since(t0) < ctx.seconds || i < minRequests) {
      val name = requests.next()
      val req = s"q$i-$name"
      counts(name) = counts.getOrElse(name, 0) + 1
      res.attempted += 1
      val s0 = System.nanoTime()
      val out = try {
        val (df, rows) = Main.asRequest(spark, req) {
          ctx.tr.span("request", "client", req) {
            val df = ctx.tr.span("entry.build", "entry", req)(fns(name)(spark, dir))
            (df, ctx.tr.span("collect", "exec", req)(df.collect()))
          }
        }
        Some((df, rows))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); None
      }
      val ms = (System.nanoTime() - s0) / 1e6
      out match {
        case Some((df, rows)) =>
          res.sample("query_ms", ms)
          totalMs += ms
          Tracing.planSpans(ctx.tr, df.queryExecution, req)
          // consistency with the first execution of the same entry
          val fp = fingerprint(rows)
          prints.get(name) match {
            case None =>
              prints(name) = fp; first(name) = (rows, df.schema)
            case Some(p) if p != fp =>
              res.failed += 1
              res.check(s"repeat:$name", ok = false, "result differs from its first execution")
            case _ =>
          }
        case None => res.failed += 1
      }
      i += 1
    }
    val wallMs = Main.since(t0) * 1000.0
    detach()
    res.values("requests") = i.toDouble
    res.values("wall_s") = wallMs / 1000.0

    if (ctx.tr.enabled) {
      val buildSpans = ctx.tr.allSpans.filter(_.name == "entry.build")
      res.layers("entry.build_ms") = buildSpans.map(_.ms).sum
      // jobs started inside the build: job spans enclosed by a build span
      val jobs = ctx.tr.allSpans.filter(_.layer == "exec").filter(_.name.startsWith("job-"))
      val byReq = buildSpans.map(b => b.req -> b).toMap
      res.layers("entry.eager_jobs") = jobs.count(j =>
        byReq.get(j.req).exists(b => j.start >= b.start && j.start <= b.end)).toDouble
      res.layers("client.requests") = i.toDouble
      Main.execLayers(ctx, res, wallMs, totalMs)
      Main.layerTimes(ctx.tr, res, totalMs)
    }
    // results for the DuckDB oracle, written outside the timed loop
    locally {
      val rdir = java.nio.file.Files.createDirectories(ctx.work.resolve("results"))
      val oracle = graft.SparkEntry.oracleSql
      first.foreach { case (name, (rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(rdir.resolve(name).toString)
      }
      val sql = first.keys.toSeq.flatMap(n => oracle.get(n).map(n -> _)).toMap
      java.nio.file.Files.write(rdir.resolve("oracle_sql.json"), Json(sql).getBytes("UTF-8"))
      java.nio.file.Files.write(rdir.resolve("counts.json"), Json(counts).getBytes("UTF-8"))
      res.values("distinct_queries") = first.size.toDouble
    }
  }
}
