package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog
import graft.streaming.EventStream

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("list finds all tables (controller file-index analog)") {
    val cat = new Catalog(spark, sfDir)
    assert(cat.list().toSet == Tables.names.toSet)
  }

  test("registerAll makes tables SQL-visible") {
    new Catalog(spark, sfDir).registerAll()
    assert(spark.sql("SELECT count(*) FROM region").as[Long].head() == 5L)
  }

  test("writeChunked bounds records per file (chunkinator analog)") {
    val dest = tempDir("graft-chunks").toString + "/li"
    val cat = new Catalog(spark, sfDir)
    cat.writeChunked(cat.table("lineitem"), dest, maxRecordsPerFile = 500,
      numChunks = Some(4))
    val back = spark.read.parquet(dest)
    assert(back.count() == cat.table("lineitem").count())
    val files = new java.io.File(dest).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= back.count() / 500) // chunk bound respected
  }

  test("partitionedLayout enables partition pruning") {
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-part").toString))
    val pruned = cat.partitionedLayout(cat.table("orders"), "orders", "o_orderstatus")
      .where($"o_orderstatus" === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(!plan.contains("o_orderstatus") || plan.contains("PartitionFilters"))
  }

  test("stats reports rows and bytes per table (cluster-stats analog)") {
    val st = new Catalog(spark, sfDir).stats().collect()
    assert(st.length == Tables.names.length)
    assert(st.forall(r => r.getAs[Long]("n_rows") > 0 && r.getAs[Long]("bytes") > 0))
  }

  test("executorStats reports per-node capacity (storage-node stats analog)") {
    val rows = new Catalog(spark, sfDir).executorStats().collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("host").nonEmpty)
      assert(r.getAs[Long]("total_storage_bytes") > 0)
      assert(r.getAs[Long]("used_storage_bytes") >= 0)
    }
  }
}

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  test("windowedCounts over a streaming file source matches batch totals") {
    val batch = Tables.events(spark, sfDir)
    // stream from a re-written copy (normalized µs timestamps)
    val srcDir = tempDir("graft-stream-src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 4).parquet(srcDir)
    val q = EventStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("wc_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    // append mode only emits watermark-closed windows; all but the last
    // couple of hours of a bounded replay are closed.
    val streamed = spark.table("wc_out")
    val batchTotals = operators.Events.tumblingHourly(batch)
    assert(streamed.count() > 0)
    assert(streamed.count() <= batchTotals.count())
    // every emitted (window, type, cnt) must agree with batch
    val joined = streamed
      .select(date_format($"hour_start", "yyyy-MM-dd HH:mm").as("hour_start"),
        $"event_type", $"cnt".as("s_cnt"))
      .join(batchTotals, Seq("hour_start", "event_type"))
    assert(joined.where($"s_cnt" =!= $"cnt").count() == 0)
  }

  test("sliding windows stream watermarked and agree with batch totals") {
    val batch = Tables.events(spark, sfDir)
    val srcDir = tempDir("graft-sliding-src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 4).parquet(srcDir)
    val q = EventStream.slidingCountsStream(stream)
      .writeStream.format("memory").queryName("sliding_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sliding_out")
    val batchTotals = operators.Events.slidingCounts(batch)
    assert(streamed.count() > 0)
    assert(streamed.count() <= batchTotals.count())
    // every watermark-closed (window, type) must agree with batch
    val joined = streamed
      .select($"win_start", $"event_type",
        $"cnt".as("s_cnt"), $"sum_value".as("s_sum"))
      .join(batchTotals, Seq("win_start", "event_type"))
    assert(joined.where($"s_cnt" =!= $"cnt" || $"s_sum" =!= $"sum_value").count() == 0)
  }

  test("stateful sessionizer emits sessions closed by the watermark") {
    val batch = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("tsu"), $"value")
    val srcDir = tempDir("graft-sess-src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    implicit val s = spark
    val events = spark.readStream.schema(batch.schema).parquet(srcDir)
      .as[EventStream.Event]
    val q = EventStream.sessionize(events)
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("sess_out")
    assert(out.count() > 0)
    assert(out.where($"n_events" <= 0).count() == 0)
    assert(out.where($"end_us" < $"start_us").count() == 0)
  }

  test("stream-stream purchase-view join matches the batch pair set") {
    val batch = Tables.events(spark, sfDir)
    val srcDir = tempDir("graft-ssjoin-src").toString
    batch.write.mode("overwrite").parquet(srcDir)
    val replay = spark.read.parquet(srcDir)

    val stream = spark.readStream.schema(replay.schema)
      .option("maxFilesPerTrigger", 4).parquet(srcDir)
    val q = EventStream.purchaseViewJoin(stream, 600)
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out")
      .select($"purchase_id", $"view_id").as[(Long, Long)].collect().toSet

    // batch truth: same inner-join predicate over the same replayed data
    val p = replay.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
    val v = replay.where($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
    val expected = p.join(v,
        $"user_id" === $"v_user" &&
          $"v_ts" >= $"p_ts" - expr("INTERVAL 600 SECONDS") && $"v_ts" < $"p_ts")
      .select($"purchase_id", $"view_id").as[(Long, Long)].collect().toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }
}

/** Stream-stream as-of join parity: under ANY batching the watermark
  * contract admits, the emitted set must equal the batch operator's
  * pair set exactly — the as-of semantics, not the time-bounded-join
  * approximation. Driven as: replay real events with a long watermark
  * delay (nothing finalizes mid-replay), then drop a far-future
  * sentinel file so the watermark passes every real event and the
  * per-key buffers flush through the same sorted finalization path any
  * incremental schedule uses. Multiset comparison — a duplicate or
  * dropped emission fails even if the set looks right. */
class AsOfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def normalized = Tables.events(spark, sfDir)
    .select($"user_id", unix_micros($"ts").as("tsu"), $"value", $"event_type")

  private def runScenario(name: String, files: Int, perTrigger: Int): Seq[(Long, Long, Option[Long])] = {
    implicit val s = spark
    val batch = normalized
    val srcDir = tempDir(s"graft-asof-$name").toString
    batch.repartition(files).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(srcDir)
    val q = streaming.EventStream.purchaseAttributionStream(stream, "720 hours")
      .writeStream.format("memory").queryName(s"asof_$name").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // deferred sentinel: a lone far-future view pushes the watermark
      // past every real event; its own rows stay buffered (excluded key)
      val maxTsu = batch.agg(max($"tsu")).as[Long].head()
      Seq((999999999L, maxTsu + 722L * 3600L * 1000000L, 0.0, "view"))
        .toDF("user_id", "tsu", "value", "event_type")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(s"asof_$name")
      .where($"user_id" =!= 999999999L)
      .select($"user_id", $"left_us", $"asof_right_us")
      .as[(Long, Long, Option[Long])].collect().toSeq
  }

  test("as-of emits incrementally as the watermark passes events, still matching batch") {
    implicit val s = spark
    val batch = normalized
    val cuts = batch.stat.approxQuantile("tsu", Array(0.25, 0.5, 0.75), 0.0)
    val bounds = (Seq(Long.MinValue) ++ cuts.map(_.toLong) :+ Long.MaxValue).sliding(2).toSeq
    val srcDir = tempDir("graft-asof-incr").toString
    // empty seed so the stream can start before the first chunk lands
    batch.limit(0).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 4).parquet(srcDir)
    val q = streaming.EventStream.purchaseAttributionStream(stream, "1 hour")
      .writeStream.format("memory").queryName("asof_incr").outputMode("append")
      .start()
    val countsAfterChunk = Seq.newBuilder[Long]
    try {
      // time-ordered chunks: each write only ADVANCES event time, so no
      // real event is ever late and finalization happens chunk by chunk
      bounds.foreach { case Seq(lo, hi) =>
        batch.where($"tsu" > lo && $"tsu" <= hi)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        countsAfterChunk += spark.table("asof_incr").count()
      }
      val maxTsu = batch.agg(max($"tsu")).as[Long].head()
      Seq((999999999L, maxTsu + 2L * 3600L * 1000000L, 0.0, "view"))
        .toDF("user_id", "tsu", "value", "event_type")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val mid = countsAfterChunk.result()
    assert(mid.last > 0 && mid.exists(c => c > 0 && c < mid.last),
      s"no incremental emission observed: $mid")
    val got = spark.table("asof_incr")
      .where($"user_id" =!= 999999999L)
      .select($"user_id", $"left_us", $"asof_right_us")
      .as[(Long, Long, Option[Long])].collect().toSeq
      .sorted(Ordering.by((t: (Long, Long, Option[Long])) => (t._1, t._2, t._3.getOrElse(-1L))))
    val expected = operators.AsOfJoin.purchaseAttribution(Tables.events(spark, sfDir))
      .select($"user_id", $"purchase_us", $"last_view_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sorted(Ordering.by((t: (Long, Long, Option[Long])) => (t._1, t._2, t._3.getOrElse(-1L))))
    assert(got == expected)
  }

  test("streaming as-of equals the batch pair set under any batching") {
    val expected = operators.AsOfJoin.purchaseAttribution(Tables.events(spark, sfDir))
      .select($"user_id", $"purchase_us", $"last_view_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sorted(Ordering.by((t: (Long, Long, Option[Long])) => (t._1, t._2, t._3.getOrElse(-1L))))
    assert(expected.nonEmpty)
    for ((files, per, nm) <- Seq((1, 4, "one"), (8, 1, "single"), (8, 4, "quad"))) {
      val got = runScenario(nm, files, per)
        .sorted(Ordering.by((t: (Long, Long, Option[Long])) => (t._1, t._2, t._3.getOrElse(-1L))))
      assert(got == expected, s"batching $nm diverged: ${got.length} vs ${expected.length} rows")
    }
  }
}

class StreamRestartSpec extends SparkSpec {
  import spark.implicits._
  import java.nio.file.Files

  test("restart from checkpoint resumes exactly-once (no loss, no dup)") {
    val batch = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val srcDir = tempDir("graft-restart-src").toString
    val outDir = tempDir("graft-restart-out").toString + "/data"
    val ckpt = tempDir("graft-restart-ckpt").toString

    // first half of the input arrives
    val Array(h1, h2) = batch.randomSplit(Array(0.5, 0.5), seed = 7)
    h1.write.mode("append").parquet(srcDir)
    def start() = spark.readStream.schema(batch.schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == h1.count())

    // more input lands while the query is DOWN; restart from the checkpoint
    h2.write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val ids = spark.read.parquet(outDir).select($"event_id").as[Long].collect()
    assert(ids.length == batch.count(), "no event lost, none duplicated")
    assert(ids.toSet.size == ids.length)
  }
}
