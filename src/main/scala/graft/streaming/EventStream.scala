package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines over the events stream.
  *
  * The reference engine is batch-only; this is the streaming surface a
  * Spark-native engine adds: file/kafka-shaped sources → watermarked
  * event-time windows → sinks, plus custom session state via
  * flatMapGroupsWithState. The batch operators in
  * `graft.operators.Events` are the replayable batch equivalents (same
  * semantics over historical data); these run incrementally with
  * bounded state.
  */
object EventStream {

  /** Typed event row for stateful processing (ts in epoch micros). */
  case class Event(user_id: Long, tsu: Long, value: Double)

  /** Emitted when a session closes (watermark passes its gap). */
  case class SessionOut(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

  case class SessionState(n: Long, startUs: Long, endUs: Long)

  /** Watermarked SLIDING (hopping) windows — the streaming twin of
    * Events.slidingCounts: 1-hour windows every 15 minutes, each event
    * in 4 overlapping windows. State is 4× the tumbling window count,
    * still bounded by the watermark horizon. */
  def slidingCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "60 minutes", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Exact.moneySum(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Watermarked 1-hour tumbling counts per event type — the streaming
    * twin of Events.tumblingHourly. State is bounded by the watermark:
    * windows older than (max event time − delay) are finalized and
    * dropped. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Exact.moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Watermarked STREAM-STREAM join: purchases matched to the same
    * user's views in the preceding `windowSec` seconds — the streaming
    * twin of Events.purchaseViewsWithin. Both sides carry watermarks and
    * the join predicate bounds event-time distance, so each side's
    * buffered state is evicted as the watermark advances: unbounded
    * streams, bounded state. Matches are emitted as soon as both sides
    * arrive (inner join), no watermark wait. */
  def purchaseViewJoin(events: DataFrame, windowSec: Long = 600): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("v_ts") < col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Tagged row for [[asOfStream]]: side 0 = right ("quotes"), 1 = left
    * ("trades" — the side that receives the as-of columns). */
  case class AsOfEvent(user_id: Long, tsu: Long, side: Int, value: Double)
  case class AsOfBuffered(tsu: Long, side: Int, value: Double)
  /** Per-key as-of state: events newer than the watermark (bounded by
    * the watermark horizon) plus ONE carried latest-finalized-right —
    * O(horizon) while a key is active, O(1) forever after. */
  case class AsOfState(buf: Seq[AsOfBuffered], bestTs: Long, bestValue: Double,
      hasBest: Boolean)
  case class AsOfJoined(user_id: Long, left_us: Long, left_value: Double,
      asof_right_us: Option[Long], asof_right_value: Option[Double])

  /** STREAM-STREAM AS-OF JOIN — the watermarked twin of the batch
    * as-of join ([[graft.operators.AsOfJoin.purchaseAttribution]]):
    * each left event is joined to the same key's LATEST right event
    * at-or-before its timestamp. Structured Streaming's built-in
    * stream-stream join can only bound the match by a time interval;
    * "the latest prior" needs ordered state, so this is
    * flatMapGroupsWithState:
    *
    *  - both streams are tagged and unioned (one watermark, one
    *    shuffle on the key — the same single-exchange lower bound the
    *    batch operator pays);
    *  - events at-or-below the watermark are FINAL: they are processed
    *    in (event time, side) order — rights fold into a running
    *    lexicographic (ts, value) max, the batch window's running-max
    *    carry, and each left emits once with the carry at
    *    its timestamp;
    *  - newer events wait in the per-key buffer (bounded by the
    *    watermark horizon) with an event-time timeout at the earliest
    *    buffered timestamp, so finalization happens as the watermark
    *    passes each event even if the key goes quiet.
    *
    * Emission is therefore exactly-once per left event and BATCHING-
    * INVARIANT: any arrival order the watermark contract admits yields
    * the batch operator's pair set (spec-asserted under several
    * batchings). Ties mirror batch: rights at the left's own timestamp
    * are included; equal-timestamp rights resolve to the (ts, value)
    * maximum. */
  def asOfStream(left: Dataset[Event], right: Dataset[Event],
      watermarkDelay: String = "1 hour")(
      implicit spark: SparkSession): Dataset[AsOfJoined] = {
    import spark.implicits._
    val tagged = left.map(e => AsOfEvent(e.user_id, e.tsu, 1, e.value))
      .union(right.map(e => AsOfEvent(e.user_id, e.tsu, 0, e.value)))
    tagged
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Int, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfState, AsOfJoined](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[AsOfState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(AsOfState(Nil, 0L, 0.0, hasBest = false))
          val all = st.buf ++ rows.map(r => AsOfBuffered(r._2, r._3, r._4))
          val (ripe, hold) = all.partition(_.tsu <= wmUs)
          var bestTs = st.bestTs
          var bestVal = st.bestValue
          var hasBest = st.hasBest
          val out = Seq.newBuilder[AsOfJoined]
          ripe.sortBy(e => (e.tsu, e.side)).foreach { e =>
            if (e.side == 0) {
              if (!hasBest || e.tsu > bestTs ||
                  (e.tsu == bestTs && e.value > bestVal)) {
                bestTs = e.tsu; bestVal = e.value; hasBest = true
              }
            } else {
              out += AsOfJoined(userId, e.tsu, e.value,
                if (hasBest) Some(bestTs) else None,
                if (hasBest) Some(bestVal) else None)
            }
          }
          state.update(AsOfState(hold, bestTs, bestVal, hasBest))
          if (hold.nonEmpty) {
            // fire when the watermark passes the earliest held event
            // (must be strictly future-of-watermark per the API)
            state.setTimeoutTimestamp(
              math.max(hold.map(_.tsu).min / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  /** [[graft.operators.AsOfJoin.purchaseAttribution]] as a stream:
    * purchases joined to the user's latest prior view. */
  def purchaseAttributionStream(events: DataFrame,
      watermarkDelay: String = "1 hour")(
      implicit spark: SparkSession): Dataset[AsOfJoined] = {
    import spark.implicits._
    def side(t: String) = events
      .where(col("event_type") === t)
      .select(col("user_id"), col("tsu"), col("value")).as[Event]
    asOfStream(side("purchase"), side("view"), watermarkDelay)
  }

  /** Custom session state: 30-min-gap sessionization with
    * flatMapGroupsWithState + event-time timeout — the streaming twin of
    * Events.sessionize. Sessions close when the watermark passes the gap
    * after their last event; state per user is O(1). */
  def sessionize(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMinutes = graft.operators.Events.SessionGapMinutes
    val gapUs = gapMinutes * 60L * 1000000L

    events
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, s.startUs, s.endUs))
          } else {
            val sorted = rows.map(r => (r._2, r._3)).toSeq.sortBy(_._1)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { case (tsu, _) =>
              cur match {
                case Some(s) if tsu - s.endUs <= gapUs =>
                  cur = Some(s.copy(n = s.n + 1, endUs = tsu))
                case Some(s) =>
                  closed += SessionOut(userId, s.n, s.startUs, s.endUs)
                  cur = Some(SessionState(1, tsu, tsu))
                case None =>
                  cur = Some(SessionState(1, tsu, tsu))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  case class TopKState(counts: List[(String, Long)])
  case class TopKOut(hr: Long, event_type: String, cnt: Long, rnk: Int)

  /** Streaming TOP-K per finalized hour — the rank-over-stream shape
    * append mode cannot express with window functions: a
    * flatMapGroupsWithState keyed by the HOUR buffers that hour's
    * per-type counts (≤|types| rows — bounded metadata, never raw
    * events: the raw grain was already collapsed by the upstream
    * windowed-count stage) and emits the ranked top k exactly once,
    * when the event-time watermark passes the hour end. Ties break by
    * event_type; the timeout is clamped above the current watermark
    * (an input row whose hour is already old must still register a
    * legal timeout). */
  def hourlyTopK(counts: DataFrame, k: Int = 3)(
      implicit spark: SparkSession): Dataset[TopKOut] = {
    import spark.implicits._
    counts
      .select(col("hour_start"), col("event_type"), col("cnt"))
      .withWatermark("hour_start", "2 hours")
      .as[(java.sql.Timestamp, String, Long)]
      .groupByKey(_._1.getTime)
      .flatMapGroupsWithState[TopKState, TopKOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (hourMs, rows, state: GroupState[TopKState]) =>
          if (state.hasTimedOut) {
            val acc = state.get.counts
            state.remove()
            acc.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
              .map { case ((t, c), i) =>
                TopKOut(hourMs * 1000L / 3600000000L, t, c, i + 1) }
              .iterator
          } else {
            val acc = state.getOption.map(_.counts).getOrElse(Nil) ++
              rows.map(r => (r._2, r._3))
            state.update(TopKState(acc))
            state.setTimeoutTimestamp(
              math.max(hourMs + 3600000L, state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** ORACLE-VISIBLE CHAINED streaming replay: stage 1 is the real
    * watermarked windowed-count stream ([[windowedCounts]], finalized
    * append-mode windows → a committed parquet sink), stage 2 a SECOND
    * checkpointed stream over that sink running [[hourlyTopK]] — the
    * standard pipeline-of-streaming-jobs production pattern, each
    * stage independently checkpointed and restartable. Stage 1's sink
    * holds only finalized REAL windows (the source sentinel's own
    * window never finalizes), so stage 2 gets its own far-future
    * watermark pusher appended with newest mtime = last trigger. */
  def topHourlyReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val src = Replay.source(spark, sfDir)
    // stage 1 runs at the purchaseViewJoinReplay trigger width (8
    // files) whatever the caller asks: the chained pipeline pays two
    // checkpointed streams, so each stage's per-trigger fixed cost
    // counts double. Only stage 2 follows `maxFilesPerTrigger`; its
    // output is granularity-invariant (Round9OpsSpec pins stage-2
    // widths 1, 2 and 4 against the batch rank), so trigger width is
    // purely a bench-cost knob here too
    val stage1 = Replay.run(spark, src, maxFilesPerTrigger = 8) { stream =>
      windowedCounts(stream.select(col("ts"), col("event_type"), col("value")))
    }
    // the HANDOFF CONTRACT between chained streams, learned twice:
    //  - every hour's rows must reach stage 2 event-time-ordered and
    //    together (a partially-arrived hour races its own timeout and
    //    emits a partial top-k — observed with the raw 32-file sink:
    //    hash-partitioned files each spanning the whole hour range);
    //  - the finalized sink CANNOT be streamed in place with a
    //    hand-appended sentinel: a streaming sink carries a
    //    _spark_metadata log, and a file source pointed at it reads
    //    the file list FROM THE LOG — appended files are invisible
    //    (observed: stage 2 stopped at logOffset 1, tail hours never
    //    flushed).
    // orderedHandoff re-materializes the committed counts (hours ×
    // types — metadata grain, never raw events) as a log-free
    // range-ordered feed with a far-future watermark-pusher row, the
    // same recipe the primary replay source uses.
    val sentinelHrUs = (src.maxTsu / 3600000000L + 6L) * 3600000000L
    val sentinel = Seq((new java.sql.Timestamp(sentinelHrUs / 1000L),
        "view", 0L, 0.0))
      .toDF("hour_start", "event_type", "cnt", "sum_value")
    val handoff = Replay.orderedHandoff(stage1, "hour_start", sentinel)
    Replay.run(spark, handoff, maxFilesPerTrigger) { counts =>
      hourlyTopK(counts).toDF()
    }
      .where(col("hr") <= src.maxTsu / 3600000000L)
      .select(col("hr"), col("event_type"), col("cnt"), col("rnk"))
  }

  /** ORACLE-VISIBLE streaming replay of the watermarked STREAM-STREAM
    * time-bounded join ([[purchaseViewJoin]]): [[Replay]]'s shared
    * ordered source → checkpointed-parquet shape. An inner stream-stream
    * join emits each pair in the microbatch where both sides have
    * arrived (the watermark only bounds state eviction), so the replayed
    * output is the complete pair set regardless of the sentinel (a lone
    * view joins nothing; filtered anyway). */
  def purchaseViewJoinReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Replay.source(spark, sfDir)
    // the two-sided join is the costliest replay (both sides keep
    // keyed state per microbatch); 8 files/trigger keeps it a genuine
    // 2-trigger incremental run at half the per-batch state rounds —
    // output is granularity-invariant (ReplaySpec), so this is purely
    // a bench-cost knob
    Replay.run(spark, src, maxFilesPerTrigger = 8) { stream =>
      purchaseViewJoin(stream.select(col("event_id"), col("user_id"),
        col("event_type"), col("ts")), 3600)
    }
      .where(col("user_id") =!= src.sentinelUser)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("v_ts")).as("v_us"))
  }

  /** ORACLE-VISIBLE streaming replay of the watermarked SLIDING-window
    * aggregation ([[slidingCountsStream]]): the shared-source sentinel
    * lands far enough past the last real event (6h > watermark delay +
    * window size) that the final watermark clears every real WINDOW
    * END, so append mode emits exactly the batch window set
    * (Events.slidingCounts — same e_sliding oracle SQL). The sentinel's
    * own 4 far-future windows start after every real event and are cut
    * on read-back. */
  def slidingCountsReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      slidingCountsStream(stream.select(col("ts"), col("event_type"),
        col("value")))
    }
      .where(unix_micros(to_timestamp(col("win_start"), "yyyy-MM-dd HH:mm"))
        <= src.maxTsu)
  }

  /** ORACLE-VISIBLE streaming replay of the watermarked TUMBLING-window
    * aggregation ([[windowedCounts]]): same shared-source shape as
    * [[slidingCountsReplay]] — the sentinel clears every real window
    * end, append mode emits exactly the batch window set
    * (Events.tumblingHourly — same e_tumbling oracle SQL), sentinel
    * windows cut on read-back. */
  def tumblingCountsReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      windowedCounts(stream.select(col("ts"), col("event_type"), col("value")))
    }
      .where(unix_micros(col("hour_start")) <= src.maxTsu)
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))
  }

  /** Watermarked streaming DEDUPLICATION — exactly-once key emission
    * over an at-least-once stream, the ingestion-side dedup every
    * pipeline runs before counting anything. Key = (user_id,
    * event_type, hour): the first arrival of each key is emitted
    * immediately (dedup is not an aggregation — no watermark wait) and
    * the key is held in state until the watermark passes hour + delay,
    * after which duplicates can no longer arrive (in-order or
    * ≤delay-late sources). State is bounded: live keys span only the
    * watermark horizon. The watermark column (`hr`) is part of the key,
    * which is what lets the state store evict by event time. */
  def dedupKeysStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .withWatermark("hr", "2 hours")
      .dropDuplicates("user_id", "event_type", "hr")

  /** ORACLE-VISIBLE streaming replay of [[dedupKeysStream]]: the
    * emitted key set over the ordered [[Replay]] source equals the
    * batch DISTINCT exactly — first-arrival emission is immediate, so
    * unlike the windowed replays no sentinel is needed to flush it
    * (the sentinel contributes only its own key, filtered on
    * read-back). The ordered source also guarantees no true row is
    * ever late-dropped by the pre-dedup watermark filter. */
  def dedupKeysReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      dedupKeysStream(stream.select(col("user_id"), col("event_type"), col("ts")))
    }
      .where(col("user_id") =!= src.sentinelUser)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("hr")).as("hr_us"))
  }

  /** ORACLE-VISIBLE streaming replay of the stateful [[sessionize]]r:
    * same shared-source → checkpointed-parquet shape as
    * [[purchaseAttributionReplay]]. The source's sentinel lands 6h past
    * the last real event — beyond (watermark delay + session gap) — so
    * every real session is closed and emitted; the sentinel's own
    * 1-event session stays in state and never reaches the sink. Emitted
    * (user, n_events, start, end) multiset therefore equals the batch
    * sessionization's — which the oracle mirrors with the lag/cumsum
    * SQL. */
  def sessionizeReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      sessionize(stream.select(col("user_id"), col("tsu"), col("value"))
        .as[Event]).toDF()
    }
      .where(col("user_id") =!= src.sentinelUser)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
  }

  /** ORACLE-VISIBLE streaming replay: run the stream-stream as-of join
    * ([[asOfStream]]) over [[Replay]]'s shared ordered file source with
    * a real checkpoint and a parquet (file) sink, then read the sink
    * back as a batch DataFrame for the driver's DuckDB compare. This is
    * the production shape at scale — files in, files out, resumable
    * checkpoint, no driver-memory sink.
    *
    * Determinism: watermarked append-mode output only finalizes events
    * at-or-below the final watermark, which would make the emitted set
    * depend on the tail of the replay. The source's far-future sentinel
    * VIEW pushes the watermark past every real event, so the
    * emitted set equals the full batch pair set
    * ([[graft.operators.AsOfJoin.purchaseAttribution]]) exactly — the
    * same e_asof oracle SQL checks both. The sentinel emits nothing
    * itself (views are right-side only) and is filtered on read-back. */
  def purchaseAttributionReplay(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      purchaseAttributionStream(stream.select(col("user_id"), col("tsu"),
        col("value"), col("event_type")), "1 hour").toDF()
    }
      .where(col("user_id") =!= src.sentinelUser)
      .select(col("user_id"), col("left_us").as("purchase_us"),
        col("asof_right_us").as("last_view_us"))
  }

  /** STREAMING incremental-MV maintenance — the production shape of
    * `fs_incr_agg`: the event stream maintains a durable per-type
    * (count, value-cents) materialized view through `foreachBatch` →
    * [[graft.sources.Catalog.refreshAggMv]]. Every microbatch is
    * pre-aggregated to MV grain (map-side combinable — only ≤|types|
    * rows reach the refresh) and merged into the manifest-committed
    * state; because the merge is algebraic, the FINAL STATE is
    * independent of microbatch boundaries (spec-pinned at
    * maxFilesPerTrigger 1 vs the default) and equals the batch
    * recompute the oracle runs. foreachBatch serialization satisfies
    * refreshAggMv's caller-serialization contract; the leading drop
    * makes the replay idempotent across gate runs. At 100 TB this is
    * the always-fresh dashboard aggregate: refresh cost tracks the
    * delta, never the history. */
  def mvMaintenanceReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    val name = "events_type_mv"
    cat.dropDerived(name)
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val delta = batch.where(col("user_id") =!= src.sentinelUser)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
      // batch id makes a retried microbatch a no-op (exactly-once)
      cat.refreshAggMv(name, delta, Seq("event_type"), Some(id)): Unit
    }
    cat.mvState(name)
      .select(col("event_type"), col("cnt"),
        (col("value_cents").cast("double") / 100.0).as("sum_value"))
  }

  /** STREAMING COUNT-MIN maintenance — the sketch-as-MV composition:
    * CMS counters are plain counts at (row, bucket) grain, i.e.
    * ALGEBRAIC, so the same `refreshAggMv` machinery that maintains
    * the per-type counter view maintains a frequency SKETCH — each
    * microbatch contributes its d×w-bounded counter delta
    * (`Analytics.cmsCounterDelta`, map-side combined before the
    * foreachBatch sink ever sees row grain) and the folded state is
    * IDENTICAL to the batch-built sketch, which is what the q_cms-
    * shaped oracle checks. Exactly-once rides the batch id as in
    * every MV replay; at 100 TB this is "heavy-hitter frequencies
    * over an unbounded stream in 4×256 counters of durable state". */
  def cmsMaintenanceReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.Analytics
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_cms_mv")
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val delta = Analytics.cmsCounterDelta(
        batch.where(col("user_id") =!= src.sentinelUser)
          .select(col("user_id")), "user_id", 4, 256)
      cat.refreshAggMv("events_cms_mv", delta, Seq("j", "bucket"), Some(id)): Unit
    }
    val est = Analytics.cmsEstimate(spark,
        cat.mvState("events_cms_mv"), 4, 256, 10)
      .withColumnRenamed("k", "user_id")
    val exact = graft.Tables.events(spark, sfDir)
      .where(col("user_id") <= 10)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("user_id"), "left")
      .select(col("user_id"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("est") - coalesce(col("exact"), lit(0L))).as("overcount"))
  }

  /** STREAMING QUANTILE maintenance — the fourth sketch-MV rung run
    * live (15th real checkpointed replay): per-type value p50/p95
    * maintained over the event stream through `foreachBatch` →
    * [[graft.sources.Catalog.refreshQsketchMv]]. Each microbatch
    * contributes its rows to the bottom-k-by-hash sample; the merge is
    * LOSSLESS (see refreshQsketchMv), so the final estimates equal a
    * from-scratch sketch over the whole log — the oracle's rebuild —
    * at any microbatch split. At 100 TB this is the always-fresh
    * latency/price-percentile dashboard: ≤ k (hash, value) pairs of
    * durable state per key, refresh cost tracking the delta. */
  def qsketchMaintenanceReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.TextAnalysis
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_qsk_mv")
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val delta = batch.where(col("user_id") =!= src.sentinelUser)
        .select(col("event_type"),
          TextAnalysis.portableHash60(col("event_id")).as("h"),
          col("value").as("val"))
      cat.refreshQsketchMv("events_qsk_mv", delta, Seq("event_type"),
        "h", "val", 256, Some(id)): Unit
    }
    cat.qsketchMvEstimate("events_qsk_mv", Seq("event_type"), 256)
  }

  /** STREAMING DRIFT monitoring (16th real checkpointed replay): the
    * d_drift card maintained LIVE. Cohort×category counts are plain
    * algebraic counts, so each microbatch contributes a map-side-
    * combined (cohort, event_type) delta folded by `refreshAggMv` —
    * durable state is one row per (cohort, category), refresh cost
    * tracks the delta — and the card itself
    * ([[graft.operators.TextAnalysis.driftCardFromCounts]]) is a
    * category-grain read over the folded state: the always-fresh
    * "is the new traffic shaped like the old traffic" gate at 100 TB,
    * paying per refresh what the batch card pays per full scan.
    * Cohorts here are even/odd user_id (two populations whose mix
    * drift is the monitored signal); a deploy-time monitor would key
    * the cohort off a rollout flag the same way. */
  def driftMaintenanceReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.TextAnalysis
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_drift_mv")
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val delta = batch.where(col("user_id") =!= src.sentinelUser)
        .groupBy(pmod(col("user_id"), lit(2L)).as("cohort"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      cat.refreshAggMv("events_drift_mv", delta,
        Seq("cohort", "event_type"), Some(id)): Unit
    }
    val counts = cat.mvState("events_drift_mv")
      .groupBy(coalesce(col("event_type").cast("string"), lit("∅")).as("cat"))
      .agg(sum(when(col("cohort") === 0L, col("n")).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1L, col("n")).otherwise(0L)).as("n_c"))
    TextAnalysis.driftCardFromCounts(counts, "event_type")
  }

  /** STREAMING NUMERIC DRIFT (19th real checkpointed replay): the
    * distributional monitor [[driftMaintenanceReplay]]'s categorical
    * TVD can't give — per microbatch, BOTH cohorts' (even/odd user —
    * a rollout flag in production) values fold into ONE durable
    * bottom-k quantile-sketch MV keyed by cohort
    * ([[graft.sources.Catalog.refreshQsketchMv]], the lossless merge),
    * and the KS-style decile-shift card
    * ([[graft.operators.TextAnalysis.decileShiftCard]]) reads off the
    * ≤ k-per-cohort folded state — NO rescan of either corpus, which
    * is the point: at 100 TB the numeric drift gate costs what the
    * already-live sketch MV pays, and because the fold is lossless the
    * card equals the whole-log rebuild exactly (the oracle). */
  def numericDriftReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.TextAnalysis
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_drift_num")
    Replay.runForeachBatch(spark, src) { (batch, id) =>
      val delta = batch.where(col("user_id") =!= src.sentinelUser)
        .select(pmod(col("user_id"), lit(2L)).as("cohort"),
          TextAnalysis.portableHash60(col("event_id")).as("h"),
          col("value").as("val"))
      cat.refreshQsketchMv("events_drift_num", delta, Seq("cohort"),
        "h", "val", 256, Some(id)): Unit
    }
    TextAnalysis.decileShiftCard(
      cat.mvState("events_drift_num"), "cohort")
  }

  /** STREAMING MEMBERSHIP (18th real checkpointed replay): the Bloom
    * bitset of every ingested event_id maintained as a durable MV —
    * per microbatch, [[graft.operators.BloomJoin.wordDelta]]'s
    * map-side-combined (word, mask) rows fold through `refreshBloomMv`
    * (bit-OR is lossless AND double-apply-immune). The read answers
    * the incremental-ingest question "which of these candidate ids
    * are NEW": filter-rejected candidates are DEFINITELY new and skip
    * the shuffle (BloomJoin.antiJoin's bypass); the might-match rest
    * pays one exact anti join. The final multiset equals a plain
    * NOT IN over the whole log — which the oracle checks, so a fold
    * that ever DROPPED a bit (a false negative) would fail the gate,
    * not just waste bytes. */
  def bloomMaintenanceReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.BloomJoin
    val mBits = 1 << 20
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_bloom_mv")
    Replay.runForeachBatch(spark, src) { (batch, id) =>
      val delta = BloomJoin.wordDelta(
        batch.where(col("user_id") =!= src.sentinelUser)
          .select(col("event_id")), col("event_id"), mBits, 4)
      cat.refreshBloomMv("events_bloom_mv", delta, Some(id)): Unit
    }
    val bits = cat.bloomMvBits("events_bloom_mv", mBits)
    val candidates = spark.range(0L, 40L)
      .select((col("id") * lit(499L)).as("cand_id"))
    val seen = graft.Tables.events(spark, sfDir).select(col("event_id"))
    val might = BloomJoin.mightContain(bits, col("cand_id"), 4)
    candidates.where(!might)
      .unionByName(candidates.where(might)
        .join(seen, col("cand_id") === col("event_id"), "left_anti"))
  }

  case class MatchEvent(user_id: Long, tsu: Long, event_id: Long,
    event_type: String)
  case class MatchState(lastOpen: Long, lastFail: Long)
  case class EpisodeOut(user_id: Long, open_us: Long, close_us: Long)

  /** Streaming pattern match (MATCH_RECOGNIZE-lite) — the twin of
    * `Events.matchEpisodes`: signup → anything-but-error → purchase,
    * with the NFA state per user exactly TWO LONGS (last open / last
    * fail marks), updated by flatMapGroupsWithState and emitting one
    * row per completed episode as it closes. In-batch rows are sorted
    * by (tsu, event_id) and the ordered Replay source makes trigger
    * order event-time order, so the fold sees rows in the batch
    * operator's window order — the replay equals the batch card
    * exactly (spec + shared oracle). No timeout: state is bounded by
    * the user population, the dimension-table size class. */
  def matchEpisodeStream(events: Dataset[MatchEvent])(
      implicit spark: SparkSession): Dataset[EpisodeOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[MatchState, EpisodeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[MatchState]) =>
          var st = state.getOption.getOrElse(MatchState(-1L, -1L))
          val out = Seq.newBuilder[EpisodeOut]
          rows.toSeq.sortBy(r => (r.tsu, r.event_id)).foreach { r =>
            if (r.event_type == "signup") st = st.copy(lastOpen = r.tsu)
            else if (r.event_type == "error") st = st.copy(lastFail = r.tsu)
            else if (r.event_type == "purchase" && st.lastOpen >= 0 &&
              st.lastFail < st.lastOpen)
              out += EpisodeOut(userId, st.lastOpen, r.tsu)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** ORACLE-VISIBLE replay of [[matchEpisodeStream]], aggregated to the
    * same per-user card as the batch `e_match` — both share one oracle
    * SQL, which is the whole point: a custom stateful streaming
    * operator value-checked against an independent engine. */
  def matchReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val src = Replay.source(spark, sfDir)
    val episodes = Replay.run(spark, src, maxFilesPerTrigger) { stream =>
      matchEpisodeStream(stream
        .select(col("user_id"), col("tsu"), col("event_id"), col("event_type"))
        .as[MatchEvent]).toDF()
    }.where(col("user_id") =!= src.sentinelUser)
    episodes.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_episodes"),
        sum(col("close_us") - col("open_us")).as("total_dur_us"),
        graft.functions.Exact.round6(
          sum(col("close_us") - col("open_us")).cast("double")
            / count(lit(1))).as("mean_dur_us"))
  }

  /** STREAMING CDC apply — the replayed event log maintained as a
    * durable latest-row-per-user view through `foreachBatch` →
    * [[graft.sources.Catalog.refreshCdcMv]]. The event stream is read
    * as a change log: each event upserts its user's row, an 'error'
    * event is a TOMBSTONE (the user's row disappears until a later
    * event resurrects it), and the change sequence is the STRUCT
    * (event µs, event_id) — refreshCdcMv's contract needs sequences
    * unique per key, and a bare timestamp leaves same-µs events with
    * no defined winner; the struct's lexicographic order keeps the
    * time ordering and pins ties by event id (a packed long would
    * overflow: µs epochs ~1.7e15 leave headroom for a factor of only
    * ~5e3, less than the event-id range). The oracle pins the same
    * tie-break (ORDER BY ts DESC, event_id DESC).
    * Because the sequence is stored IN the state,
    * the final view is microbatch-boundary invariant (spec pins 1-file
    * vs 4-file triggers identical) — unlike a seq-less fold, no batch
    * ordering assumption is needed. Oracle: latest event per user where
    * that event isn't an 'error'. At 100 TB this is the continuously-
    * maintained dimension table: refresh cost tracks the delta and the
    * stored key set, never the log history. */
  def cdcReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived("events_user_cdc")
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val changes = batch.where(col("user_id") =!= src.sentinelUser)
        .select(col("user_id"),
          struct(col("tsu").as("us"), col("event_id").as("eid")).as("seq"),
          when(col("event_type") === "error", "d").otherwise("u").as("op"),
          col("event_type").as("last_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"))
      cat.refreshCdcMv("events_user_cdc", changes, "user_id", "seq", "op",
        Some(id)): Unit
    }
    cat.cdcState("events_user_cdc", "op")
      .select(col("user_id"), col("seq.us").as("last_seq_us"),
        col("last_type"),
        (col("value_cents").cast("double") / 100.0).as("last_value"))
  }

  /** STREAMING SCD2 — the VERSION-HISTORY sibling of [[cdcReplay]] (the
    * 14th real checkpointed replay): the same event-derived change log
    * (every event upserts its user's row, 'error' tombstones, sequence
    * = the (µs, event_id) struct) maintained as durable TYPE-2 history
    * through `foreachBatch` → [[graft.sources.Catalog.refreshScd2Mv]] —
    * closed versions append once per microbatch as immutable segments,
    * only the per-user OPEN version rides in re-written state. The
    * ordered Replay source satisfies the ordered-feed contract (trigger
    * order == event-time order), so segment-union + open state equals
    * the batch lead() over the whole log — the shared oracle — at ANY
    * microbatch split (invariance spec). At 100 TB this is the audit
    * dimension that answers "what did this row say at time t" with
    * refresh cost tracking the delta, never the accumulated history. */
  def scd2Replay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    import graft.sources.Catalog
    val src = Replay.source(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    val name = "events_user_scd2"
    cat.dropDerived(name)
    Replay.runForeachBatch(spark, src, maxFilesPerTrigger) { (batch, id) =>
      val changes = batch.where(col("user_id") =!= src.sentinelUser)
        .select(col("user_id"),
          struct(col("tsu").as("us"), col("event_id").as("eid")).as("seq"),
          when(col("event_type") === "error", "d").otherwise("u").as("op"),
          col("event_type").as("last_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"))
      cat.refreshScd2Mv(name, changes, "user_id", "seq", "op", id)
    }
    cat.scd2MvHistory(name, "seq", "op")
      .select(col("user_id"), col("last_type"),
        (col("value_cents").cast("double") / 100.0).as("last_value"),
        col("valid_from.us").as("valid_from_us"),
        col("valid_from.eid").as("valid_from_eid"),
        col("valid_to.us").as("valid_to_us"),
        col("valid_to.eid").as("valid_to_eid"),
        col("is_current"))
  }
}
