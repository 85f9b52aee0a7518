package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds.
  *
  * Each query is forced end-to-end with a noop-format write (full
  * materialization of every column — `count()` would let Spark prune the
  * projections and under-report).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus,
      appName = "graft-bench")

    // untimed warmup: initialize codegen, shuffle, the parquet reader
    // stack, and the noop sink once so the alphabetically-first query
    // doesn't absorb session startup
    spark.range(1 << 20).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    locally {
      import org.apache.spark.sql.functions._
      val r = Tables.region(spark, sfDir)
      r.join(broadcast(r.select(col("r_regionkey").as("k"))),
          col("r_regionkey") === col("k"))
        .select(explode(split(col("r_name"), "")).as("c"))
        .groupBy(col("c")).count()
        .write.format("noop").mode("overwrite").save()
    }

    // n>=3 runs per query, INTERLEAVED (full passes over all queries,
    // then a per-query statistic across passes): environmental stalls on
    // this class of machine come in multi-minute phases, and
    // back-to-back repeats of one query would put all its samples inside
    // the same phase — interleaving spreads each query's samples across
    // the whole bench window
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run — the iteration
    // loop for timing one query while tuning it; the committed record
    // is always a full-surface run (the driver sets no filter)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val passes = Seq.fill(iters) {
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
        val t = (System.nanoTime() - t0) / 1e9
        // cache hygiene OUTSIDE the timed region: composite queries
        // (corpus_prep) persist intermediates; left pinned, those blocks
        // squeeze every later query's shuffle/cache memory — measured as
        // d_dedup_minhash inflating 1.5 s → 12 s across a bench run
        spark.catalog.clearCache()
        (t, ok)
      }
    }
    // per-query MIN across SUCCESSFUL passes, not median: this machine's
    // noise is strictly additive and comes in multi-minute phases
    // (external page cache drops / IO stalls measured at 4-14× on
    // identical code), so with 3 samples the median still lands inside a
    // phase for some queries every run. The minimum is the clean-machine
    // time — the number that reproduces. A query with ZERO successful
    // passes gets no timing at all: a failed attempt's wall time is not a
    // measurement (an analysis exception fails in 0.06 s and would read
    // as a 10× speedup). It is emitted as null, listed in "failed", and
    // forces a nonzero exit code.
    val results = names.zipWithIndex.map { case ((name, _), i) =>
      val good = passes.map(_(i)).filter(_._2).map(_._1)
      name -> (if (good.nonEmpty) Some(good.min) else None)
    }
    val failed = results.collect { case (k, None) => k }
    // self-diagnosis: the MIN hides how contaminated a run was. Report
    // each query's max/min spread across its STEADY-STATE passes (pass
    // 1 is excluded — a query's first execution pays per-plan codegen
    // compilation, which spreads cheap queries 3-4× against their own
    // warm runs and would drown the signal) and flag the run
    // `contaminated` when >10% of queries spread past 1.5× — the
    // measured signature of this machine's multi-minute stall phases
    // (identical code has benched 150 s clean vs 175 s stalled). A
    // contaminated run's totals are then machine-distinguishable from a
    // real regression without diffing code.
    val spreads = names.zipWithIndex.map { case ((name, _), i) =>
      val steady = passes.drop(1).map(_(i)).filter(_._2).map(_._1)
      name -> (if (steady.size >= 2 && steady.min > 0)
        Some(steady.max / steady.min) else None)
    }
    val spreadVals = spreads.flatMap(_._2)
    val wideCount = spreadVals.count(_ > 1.5)
    val contaminated = spreadVals.nonEmpty && wideCount > spreadVals.size * 0.10
    // 4-decimal seconds (0.1 ms resolution): the full-precision doubles
    // made the line long enough that log-tail capture truncated it to
    // ~76 of 106 per-query entries in past rounds — shorter line first,
    // and a file copy as the always-complete record either way
    def fmt(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(fmt) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the printed line carries only the diagnosis summary (line length is
    // capped by log-tail capture); the file copy appends the full
    // per-query spread map as the complete record
    val diag = s""""contaminated":$contaminated,"spread_over_1p5":$wideCount,""" +
      s""""spread_checked":${spreadVals.size}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$diag,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // round-8 lesson: the long line above got truncated mid-JSON by the
    // harness's stdout-tail capture, leaving the official artifact with
    // no parsed metric at all. Emit a SHORT self-contained summary line
    // LAST — it always fits in a tail capture, and the complete
    // per-query record is in the file copy below either way.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$diag,""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""full_record":"BENCH_LOCAL.json","sf":"$sfDir"}""")
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(fmt) }
      .mkString("{", ",", "}")
    val fileLine = line.dropRight(1) + s""","spreads":$spreadJson}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed every pass: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
