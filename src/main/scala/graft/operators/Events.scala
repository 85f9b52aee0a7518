package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact._

/** Event/time-series batch operators over the `events` table.
  *
  * All timestamp comparisons happen on `unix_micros` (integer µs) so the
  * semantics are engine-exact regardless of sub-second precision, and all
  * emitted timestamps are formatted strings — no tz/precision rendering
  * drift at the comparison boundary.
  */
object Events {

  /** The inactivity gap that closes a session, in minutes: every batch
    * sessionizer here and the streaming one in
    * [[graft.streaming.EventStream]] split on it. */
  private[graft] val SessionGapMinutes = 30
  private val SessionGapUs = SessionGapMinutes * 60L * 1000000L
  /** Attribution lookback of [[attributionCard]] and
    * [[multiTouchAttribution]], in days. */
  private val LookbackDays = 7
  /** The default path of [[funnelSteps]] and [[funnelRates]]. */
  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  /** 1-hour tumbling-window counts/sums per event type. Uses Spark's
    * `window()` — at scale this is a single hash aggregate (window start
    * is a derived column, not a blow-up). */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** SLIDING (hopping) windows — 1-hour windows every 15 minutes, so
    * each event lands in 60/15 = 4 overlapping windows.
    * Spark's `window(ts, win, slide)` expands the factor-of-4 row
    * multiplication map-side before the one aggregate shuffle (shuffle
    * volume is windows×groups partials, not exploded events). The
    * DuckDB mirror generates the same 4 window starts per event with
    * integer µs arithmetic. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "60 minutes", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** DISTINCT users per sliding window — reach, not volume. The
    * two-level shape keeps it scalable: dedup to (window, user) pairs
    * first (partial-aggregates map-side, shuffle carries pairs not
    * events), then a plain count per window — never a countDistinct
    * buffer over the exploded event stream. */
  def slidingDistinctUsers(events: DataFrame): DataFrame =
    events
      .select(window(col("ts"), "60 minutes", "15 minutes").as("w"),
        col("user_id"))
      .distinct()
      .groupBy(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"))
      .agg(count(lit(1)).as("n_users"))

  /** Session ids by the 30-minute gap: per user in `tsu` order, an
    * event opens a new session when it is the user's first or follows
    * the previous one by more than the gap, and `session_id` is the
    * running count of openings (lag + cumulative sum; one shuffle on
    * user_id, both windows share it). Appends `prev`, `is_new` and
    * `session_id` to `e`, which carries `user_id` and `tsu`. */
  private def withSessionIds(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
    e.withColumn("prev", lag(col("tsu"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("tsu") - col("prev") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** 30-minute-gap sessionization: [[withSessionIds]], then
    * per-session stats. */
  def sessionize(events: DataFrame): DataFrame =
    withSessionIds(events
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tsu")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"),
        (max(col("tsu")) - min(col("tsu"))).as("duration_us"))

  /** Peak session CONCURRENCY — the sweep-line classic ("how many
    * sessions were open at the worst moment", the capacity-planning
    * number): sessions become +1/−1 boundary deltas (+1 at start, −1
    * just past the inclusive end), the running delta sum in time order
    * IS the live-session count, and its max is the peak. The sweep
    * rides the two-level [[Cumulative.runningSum]] scan at the
    * distinct-boundary grain — no global window holds the boundary
    * stream; earliest time at the peak reported (ties stated). */
  def peakConcurrency(events: DataFrame): DataFrame = {
    val sess = withSessionIds(events
        .select(col("user_id"), unix_micros(col("ts")).as("tsu")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tsu")).as("s"), max(col("tsu")).as("e"))
    val deltas = sess.select(col("s").as("t"), lit(1L).as("d"))
      .unionAll(sess.select((col("e") + 1).as("t"), lit(-1L).as("d")))
    val vc = deltas.groupBy(col("t")).agg(sum(col("d")).as("d"))
      .withColumn("__g", lit(1))
      .localCheckpoint()
    val run = Cumulative.runningSum(vc, Seq("__g"), "t", "d", "conc")
    // argmax in ONE aggregation (max of a (conc, −t) struct = the peak
    // and its earliest time), replacing the max-then-rejoin shape that
    // ran the whole sweep subtree twice; identical values
    run.agg(max(struct(col("conc"), (-col("t")).as("neg_t"))).as("mx"))
      .select((-col("mx.neg_t")).as("peak_tsu"),
        col("mx.conc").as("peak_concurrency"))
  }

  /** Gap sessionization via Spark's NATIVE `session_window` — the
    * built-in path beside the lag+cumsum composition ([[sessionize]]),
    * cross-validated against the same oracle shape. One boundary
    * difference, encoded in the oracle: the built-in closes a session
    * when the next event is AT or after gap (window end is exclusive),
    * where the composition uses strictly-greater. Emits per-session
    * stats without a session ordinal (window identity replaces it). */
  def sessionizeBuiltin(events: DataFrame): DataFrame = {
    import graft.functions.Exact.moneySum
    events
      .select(col("user_id"), col("ts"), col("value"), unix_micros(col("ts")).as("tsu"))
      .groupBy(col("user_id"), session_window(col("ts"), s"$SessionGapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"),
        (max(col("tsu")) - min(col("tsu"))).as("duration_us"))
      .select(col("user_id"), col("n_events"), col("sum_value"), col("duration_us"))
  }

  /** Top-k sessions by spend: [[sessionize]] → global top-k. The
    * sort+limit plans as TakeOrderedAndProject — a bounded heap per
    * partition merged on the driver (k·partitions rows), never a global
    * sort, at any scale. Ties break on (user_id, session_id) so the
    * selected set is a total order both engines agree on. */
  def topSessions(events: DataFrame): DataFrame =
    sessionize(events)
      .orderBy(col("sum_value").desc, col("user_id"), col("session_id"))
      .limit(20)

  /** TOP SESSION PATHS — path mining over the sessionized stream: each
    * session collapses to its ordered event-type string ("view>view>
    * purchase"), then a global count-per-path top-15. The product-
    * analytics read next to [[funnel]] (which checks ONE hypothesized
    * order; paths SURFACE the orders that actually happen).
    *
    * Determinism is the whole trick: within-session order is pinned by
    * (tsu, event_id) — same-microsecond events would otherwise make
    * the path string engine-dependent — via `array_sort` over
    * (tsu, event_id, type) structs (struct ordering = field order);
    * the top-k ties break on the path string. Scale shape: one
    * user-keyed window + one (user, session) aggregate (both
    * co-partitioned after the first shuffle), the path table is
    * session grain, and sort+limit plans as TakeOrderedAndProject —
    * a bounded heap per partition, never a global sort. */
  def topPaths(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("tsu"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val s = e.withColumn("prev", lag(col("tsu"), 1).over(w))
      .withColumn("is_new", when(col("prev").isNull ||
        col("tsu") - col("prev") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(w))
    val paths = s.groupBy(col("user_id"), col("session_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tsu"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(15)
  }

  /** Hourly resample with gap fill: per user, a dense hour grid from
    * their first to last event with zero counts for silent hours — the
    * time-series regularization step before any windowed model sees the
    * data. The grid is generated per user (`sequence` + explode: span ×
    * users rows, never a global calendar cross join) and the fill is a
    * left join on (user, hour) — both shuffles key on user_id, so at
    * scale this is two co-partitioned exchanges over the grid, with the
    * raw corpus touched once by the pre-aggregation. Hour ids are µs
    * integer-division buckets (engine-exact; no tz/DST rendering). */
  def resampleHourly(events: DataFrame): DataFrame = {
    // FLOOR division (pmod is always non-negative), not `div`: Spark div
    // truncates toward zero, so a pre-1970 event would share bucket 0
    // with the first post-epoch hour and diverge from the oracle's `//`
    val hr = expr(
      "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 3600000000").as("hr")
    val counts = events.select(col("user_id"), hr)
      .groupBy(col("user_id"), col("hr")).agg(count(lit(1)).as("cnt"))
    val grid = counts.groupBy(col("user_id"))
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("hr"))
    grid.join(counts, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Lead/lag profile: per event, the µs gap to the user's previous and
    * next events — inter-arrival times, the raw material of activity
    * modeling. One shuffle on user_id; both offsets share the window. */
  def interEventGaps(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
      .select(col("user_id"), col("event_id"),
        (col("tsu") - lag(col("tsu"), 1).over(w)).as("gap_prev_us"),
        (lead(col("tsu"), 1).over(w) - col("tsu")).as("gap_next_us"))
  }

  /** Range join: per purchase, the number of views by the same user in
    * the preceding `windowSec` seconds. The equality key (user_id) keeps
    * this a hash/sort-merge join at scale — the time range is a post-join
    * filter over co-partitioned rows, never a nested-loop cross product. */
  def purchaseViewsWithin(events: DataFrame, windowSec: Long = 600): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("purchase_us"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("tsu").as("view_us"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("view_us") >= col("purchase_us") - lit(windowSec * 1000000L) &&
          col("view_us") < col("purchase_us"),
        "left")
      .groupBy(col("user_id"), col("purchase_us"))
      .agg(count(col("view_us")).as("n_views"))
  }

  /** Interval join WITHOUT an equality key — the shape Spark can only
    * plan as a nested loop. Bucketing makes it an equi-join: event time
    * maps to a coarse cell, each interval explodes into every cell it
    * overlaps, the join key is the cell, and the exact range predicate
    * filters co-partitioned rows. Shuffle is O(events + Σ span/bucket);
    * no nested loop at any scale. `intervals` needs
    * (interval_id, start_us, end_us); events join on `tsu` (epoch µs).
    * An empty or reversed interval (`start_us >= end_us`) contains no
    * point, so it is dropped before the explode: `sequence` would
    * otherwise build the whole DESCENDING cell range for it. */
  def intervalJoin(events: DataFrame, intervals: DataFrame,
      bucketUs: Long): DataFrame = {
    val ev = events.withColumn("cell", expr(s"tsu div $bucketUs"))
    val iv = intervals
      .where(col("start_us") < col("end_us"))
      .withColumn("cell",
        explode(sequence(expr(s"start_us div $bucketUs"), expr(s"end_us div $bucketUs"))))
    ev.join(iv, Seq("cell"))
      .where(col("tsu") >= col("start_us") && col("tsu") < col("end_us"))
      .drop("cell")
  }

  /** Events inside deterministic "maintenance windows" (first 15 min of
    * every 7th hour) counted per window — exercises [[intervalJoin]]
    * end-to-end with intervals derived from the data itself. */
  def maintenanceWindowCounts(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), unix_micros(col("ts")).as("tsu"))
    val intervals = e
      .select(expr("tsu div 3600000000").as("h")).distinct()
      .where(pmod(col("h"), lit(7)) === 0)
      .select(col("h").as("interval_id"),
        (col("h") * 3600000000L).as("start_us"),
        (col("h") * 3600000000L + 900000000L).as("end_us"))
    intervalJoin(e, intervals, 900000000L)
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Semi-structured extraction: pull a typed field out of the JSON
    * `props` column and aggregate on it. `get_json_object` is a native
    * codegen'd expression — the JSON parse happens inside the scan
    * projection, map-only until the final aggregate. */
  def propsHistogram(events: DataFrame): DataFrame =
    events
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("sum_value"))

  /** Per-user activity stats. */
  def userStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        moneySum(col("value")).as("sum_value"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_seen"))

  /** Ordered conversion funnel view → click → purchase: per user, the
    * FIRST view, the first click strictly AFTER it, and the first
    * purchase strictly after that — [[funnelSteps]] at those three
    * steps, as `first_view`, `first_click`, `first_purchase`. */
  def funnel(events: DataFrame): DataFrame =
    funnelSteps(events, Seq("view", "click", "purchase"))

  /** Ordered k-step conversion funnel with earliest-completion
    * semantics: step i's first qualifying time is the min event time
    * strictly AFTER step i−1's — the strict-sequence semantics ("a
    * click only counts if it followed the view that preceded it") that
    * a naive per-type min gets wrong. Built by folding one filtered
    * per-user aggregate per step, chained by equi-joins on user_id:
    * after the first shuffle everything is co-partitioned, each
    * stage's state is one row per user, and no window runs over the
    * event stream — the width of this query is the user count, not the
    * event count. Output: one row per user who reached step 1, with
    * `first_<step>` columns (µs) null-padded past the deepest step
    * reached. */
  def funnelSteps(events: DataFrame,
      steps: Seq[String] = FunnelSteps): DataFrame = {
    require(steps.length >= 2, "funnelSteps needs at least two steps")
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsu"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    steps.zipWithIndex.foreach { case (st, i) =>
      val base = e.where(col("event_type") === st)
      val gated =
        if (i == 0) base
        else base.join(acc(i - 1).select(col("user_id"), col(s"t$i")), "user_id")
          .where(col("tsu") > col(s"t$i"))
      acc += gated.groupBy(col("user_id")).agg(min(col("tsu")).as(s"t${i + 1}"))
    }
    acc.tail.foldLeft(acc.head)((l, r) => l.join(r, Seq("user_id"), "left"))
      .select(col("user_id") +: steps.indices.map(i =>
        col(s"t${i + 1}").as(s"first_${steps(i)}")): _*)
  }

  /** Seasonal-naive forecast BACKTEST — "how wrong would last week's
    * shape have been": per type, predict each hour as the value one
    * week (168 h) earlier and score MAE over the hours where a
    * prediction exists, in exact cents (one closing division). The lag
    * runs at hour grain per type — bounded by the time span — and the
    * whole card is the honest floor any fancier forecaster must beat
    * before it ships. */
  def forecastBacktest(events: DataFrame): DataFrame = {
    val byHour = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(sum(cents(col("value"))).as("v"))
      .localCheckpoint() // referenced as both actuals and predictions
    // a TIME-shifted self-join, not lag(168) over rows: a quiet hour
    // is an absent row, and a row-offset lag would silently predict
    // from the wrong hour across the gap
    val prev = byHour.select(col("event_type"), (col("h") + 168).as("h"),
      col("v").as("pred"))
    byHour.join(prev, Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("v") - col("pred"))).as("abs_err_c"))
      .select(col("event_type"), col("n_hours"),
        round6(col("abs_err_c").cast("double") / col("n_hours") / 100.0)
          .as("mae"))
  }

  /** Stickiness card — mean-DAU / WAU per week, the "how often do
    * weekly users show up" engagement ratio: per week the distinct
    * weekly actives, the mean of the 7 daily-active counts (days with
    * no events contribute zero — divide by 7, not by observed days;
    * stated, not guessed), and the ratio as one closing division over
    * exact integers. Two distinct scans at (user, day) / (user, week)
    * grain. */
  def stickiness(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val ud = events.select(col("user_id"),
      expr(s"unix_micros(ts) div $dayUs").as("d")).distinct()
      .withColumn("wk", expr("d div 7"))
    val dau = ud.groupBy(col("wk"), col("d"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("wk")).agg(sum(col("n")).as("active_days_sum"))
    val wau = ud.select(col("user_id"), col("wk")).distinct()
      .groupBy(col("wk")).agg(count(lit(1)).as("wau"))
    wau.join(dau, "wk")
      .select(col("wk"), col("wau"),
        round6(col("active_days_sum").cast("double") / 7.0).as("mean_dau"),
        round6(col("active_days_sum").cast("double") / 7.0 / col("wau"))
          .as("stickiness"))
  }

  /** Growth accounting — the weekly user-motion card (new / retained /
    * resurrected / churned) behind every DAU/WAU decomposition:
    * per week, `new` = first-ever week, `retained` = also active the
    * week before, `resurrected` = active, absent last week, not new;
    * `churned` = active last week, absent now (attributed to the
    * ABSENT week, reported only for weeks the stream actually covers
    * — no phantom week past the horizon). All set algebra on the
    * distinct (user, week) grain: one distinct scan, then joins keyed
    * by (user, week) — never a window over raw events. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val active = events.select(col("user_id"),
      expr(s"unix_micros(ts) div $weekUs").as("wk")).distinct()
    val first = active.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
    val prev = active.select(col("user_id"), (col("wk") + 1).as("wk"),
      lit(1).as("was_prev"))
    val cur = active.join(first, "user_id")
      .join(prev, Seq("user_id", "wk"), "left")
      .select(col("wk"),
        when(col("wk") === col("fw"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("status"))
    val weeks = active.select(col("wk")).distinct()
    val churned = prev.select(col("user_id"), col("wk"))
      .join(active, Seq("user_id", "wk"), "left_anti")
      .join(broadcast(weeks), Seq("wk"), "left_semi")
      .select(col("wk"), lit("churned").as("status"))
    cur.unionAll(churned)
      .groupBy(col("wk"), col("status"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Step-count / conversion-rate card over [[funnelSteps]]: one row
    * per step with reached-user count and the conversion from the
    * previous step (step 1 converts from itself = 1.0). One aggregate
    * over the funnel's user-grain output — k counts, k−1 closing
    * divisions. */
  def funnelRates(events: DataFrame): DataFrame = {
    val steps = FunnelSteps
    val f = funnelSteps(events, steps)
    val agg = f.agg(
      count(col(s"first_${steps.head}")).as("__n0"),
      steps.tail.zipWithIndex.map { case (st, i) =>
        count(col(s"first_$st")).as(s"__n${i + 1}") }: _*)
    steps.zipWithIndex.map { case (st, i) =>
      agg.select(lit(i + 1).as("step_idx"), lit(st).as("step"),
        col(s"__n$i").as("n_users"),
        if (i == 0) lit(1.0).as("conversion")
        // conversion from an EMPTY previous step is undefined — null,
        // not a 0/0 artifact (ANSI division would otherwise throw)
        else when(col(s"__n${i - 1}") === 0L, lit(null).cast("double"))
          .otherwise(round6(col(s"__n$i").cast("double") / col(s"__n${i - 1}")))
          .as("conversion"))
    }.reduce(_ unionAll _)
  }

  /** Per-user z-score outliers WITHOUT a square root or any double in
    * the decision: z² > k² rewritten as the integer comparison
    *   (n·x − S)² > k²·(n·Q − S²)
    * over cents-scaled value moments (S = Σv, Q = Σv²) — exact under
    * any partition order, and the same literal arithmetic on any
    * engine. One aggregate (user moments, bounded one row per user)
    * plus one co-partitioned join back to the events. Zero-variance
    * users flag nothing (both sides 0). Moments and the comparison run
    * in Decimal(38,0) — exact 128-bit integers, no silent int64 wrap:
    * the decision stays exact up to |n·v − S| < 10¹⁹ (vs int64's
    * ~3·10⁹), i.e. beyond any per-user event stream; the DuckDB oracle
    * mirrors this with HUGEINT so both engines agree at every
    * magnitude instead of one wrapping while the other raises. */
  def anomalies(events: DataFrame): DataFrame = {
    val k = 3L
    val e = events.select(col("user_id"), col("event_id"), cents(col("value")).as("v"))
    val vD = col("v").cast("decimal(38,0)")
    val stats = e.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(vD).cast("decimal(38,0)").as("sv"),
        sum(vD * vD).cast("decimal(38,0)").as("q"))
    val dev = col("n") * vD - col("sv")
    e.join(stats, "user_id")
      .where(dev * dev >
        lit(k * k) * (col("n") * col("q") - col("sv") * col("sv")))
      .select(col("user_id"), col("event_id"),
        (col("v").cast("double") / 100.0).as("value"))
  }

  /** Weekly cohort retention: users grouped by their first-activity
    * week; n_users counts the cohort's members still active
    * `week_offset` weeks later. Two aggregates and one co-partitioned
    * join, all keyed on user_id then (cohort, offset) — the output is
    * bounded by weeks², independent of event volume. Week ids are
    * FLOOR-division µs buckets (same idiom as [[resampleHourly]]) so
    * the bucketing is engine-exact. */
  def retention(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val wk = expr(
      s"(unix_micros(ts) - pmod(unix_micros(ts), $weekUs)) div $weekUs").as("wk")
    val active = events.select(col("user_id"), wk).distinct()
    val cohort = active.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
    active.join(cohort, "user_id")
      .groupBy(col("cw").as("cohort_week"), (col("wk") - col("cw")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Day-of-week × hour-of-day activity heatmap — the calendar shape of
    * the stream. Both coordinates are pure µs integer arithmetic
    * (epoch day 0 = Thursday, so +4 places Sunday at 0) rather than
    * engine calendar functions, whose week-start conventions differ;
    * map-only projection, one ≤168-group aggregate. */
  def dowHourHeatmap(events: DataFrame): DataFrame =
    events
      .select(
        expr("pmod((unix_micros(ts) div 86400000000) + 4, 7)").as("dow"),
        expr("pmod(unix_micros(ts) div 3600000000, 24)").as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("sum_value"))

  /** Exponentially-decayed trailing sum (the EWMA family) per user over
    * the last `depth` events: the current event's cents weigh
    * 2^(depth−1), each older event half that — a DYADIC decay (α = ½)
    * chosen so every term is an exact integer and the result is
    * ENGINE-EXACT in any summation order (no float-accumulation drift;
    * the cross-engine rule from round 1). One shuffle on user_id; the
    * per-row state is the `depth`-element frame array (bounded, spills
    * never). `ewma` itself is one final division by 2^(depth−1) —
    * exact-input single-op double, deterministic.
    *
    * The frame list arrives oldest→current (frame order = window
    * ORDER BY), so element i of an s-element frame sits distance
    * s−1−i from the current row and takes weight 2^(depth−1−(s−1−i)).
    */
  def ewmaDecayedSum(events: DataFrame, depth: Int = 16): DataFrame = {
    require(depth >= 1 && depth <= 32, s"depth out of range: $depth")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(-(depth - 1), Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("frame", collect_list(col("cents")).over(w))
      .select(col("user_id"), col("event_id"),
        // native codegen'd fold (the transform+aggregate HOF pair is
        // CodegenFallback and would eject this projection)
        graft.functions.DecayedSum.decayedSum(col("frame"), lit(depth))
          .as("ewma_scaled"))
      .withColumn("ewma",
        col("ewma_scaled").cast("double") / math.pow(2.0, depth - 1))
  }

  /** Hourly forward-fill: per user, a dense hour grid carrying the LAST
    * observed cents value forward through silent hours — the
    * last-observation-carried-forward regularization (the sibling of
    * [[resampleHourly]]'s zero-fill). Plan shape: the per-hour pick is
    * a struct-max AGGREGATE (lexicographic max over (tsu, event_id,
    * cents) — map-side combinable, no row_number window), and the fill
    * is ONE `last(_, ignoreNulls)` running window. The DuckDB oracle
    * deliberately uses the different fill-group formulation (running
    * non-null count → max per group), so the compare checks semantics,
    * not a shared plan. Grid size is span×users, never a global
    * calendar cross join. */
  def gapFillForward(events: DataFrame): DataFrame = {
    val hr = expr(
      "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 3600000000").as("hr")
    // last event per (user, hour) by the (tsu, event_id) total order
    val hourly = events
      .select(col("user_id"), hr,
        struct(unix_micros(col("ts")).as("tsu"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")).as("pick"))
      .groupBy(col("user_id"), col("hr"))
      .agg(max(col("pick")).getField("cents").as("cents"))
      // referenced by the grid AND the fill join — materialized once
      // ((user, hour) grain, far below event grain) so the per-hour
      // pick aggregate doesn't scan events twice. Checkpoint
      // tradeoffs as documented on sizedItems: eager, GC-freed,
      // lineage-truncated
      .localCheckpoint()
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("hr"))
    val byHr = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        last(col("cents"), ignoreNulls = true).over(byHr).as("filled_cents"),
        when(col("cents").isNotNull, lit(1L)).otherwise(lit(0L)).as("observed"))
  }

  /** First-order Markov transition matrix over event types: per user the
    * event sequence in (tsu, event_id) order yields (type → next type)
    * pairs via lead; global counts + per-source row-stochastic
    * probabilities. One shuffle on user_id for the sequence, one
    * |types|²-bounded aggregate; `prob` is one division of two exact
    * integers — deterministic. The output is the user-journey model a
    * curation pipeline reads funnel/anomaly priors from. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"),
        col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("next_type").as("dst_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob", col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("src_type"))).cast("double"))
  }

  /** Rolling EXACT median of the user's last `frame` event cents — the
    * robust-location counterpart of a moving average (outlier-immune
    * baseline for anomaly scoring). `percentile` over a ROWS frame keeps
    * a ≤`frame`-element buffer per row — O(frame) state at any scale,
    * never a per-partition sort buffer. Interpolated medians of integer
    * cents are exact multiples of ½ — engine-exact doubles. */
  def rollingMedian(events: DataFrame, frame: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(-(frame - 1), Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .select(col("user_id"), col("event_id"),
        expr("percentile(cents, CAST(0.5 AS DOUBLE))").over(w).as("med_cents"))
  }

  /** Robust (MAD) outliers per event type: flag events whose deviation
    * from the type median exceeds k× the median absolute deviation —
    * the heavy-tail-immune sibling of [[anomalies]] (a single 10⁶×
    * outlier inflates a stddev gate but cannot move either median).
    * Two exact-percentile aggregates over a handful of type groups plus
    * broadcast joins back; every intermediate is an exact multiple of
    * ½ cent (interpolated medians of integer cents), so the k·MAD
    * comparison is engine-exact in doubles. Exact percentile buffers
    * per group — the documented exact-reference trade-off (q_median);
    * swap approx_percentile at 100 TB. */
  def madOutliers(events: DataFrame, k: Int = 5): DataFrame = {
    val e = events.select(col("event_id"), col("event_type"),
      cents(col("value")).as("v"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(v, CAST(0.5 AS DOUBLE))").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v").cast("double") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dev, CAST(0.5 AS DOUBLE))").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .where(col("dev") > col("mad") * k)
      .select(col("event_id"), col("event_type"),
        (col("v").cast("double") / 100.0).as("value"), col("dev").as("deviation"))
  }

  /** Watermark lateness audit: how out-of-order would this stream
    * ARRIVE, and what would a watermark of 1 min / 10 min / 1 h drop?
    * This is the batch computation that SIZES the `withWatermark`
    * delays the streaming twins use — run it before picking a delay,
    * not after silently dropping rows.
    *
    * Arrival model (deterministic, documented): devices flush hourly —
    * events arrive in (event-hour, user_id, event_id) order, the
    * classic batched-upload interleaving watermarks exist for. An
    * event's lateness is max event-time among all earlier ARRIVALS
    * minus its own event-time; on this generator ~77% of events arrive
    * late and a 10-minute watermark would drop thousands while 1 hour
    * drops none — which is exactly why the streaming replays use 1 h.
    *
    * The running max over the arrival order is the two-level
    * bucket-monotone scan ([[Cumulative]]'s shape, max for sum): the
    * bucket (hour, 128-way user band) is monotone in arrival order by
    * construction, so per-bucket running-max windows are
    * span×128-parallel and the bucket-offset running max is one
    * bounded-metadata window (≤ hours×128 rows — never the corpus).
    * Output: one row per event type with drop counts per candidate
    * delay. */
  def latenessAudit(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val base0 = events.select(col("event_id"), col("event_type"), col("user_id"),
      unix_micros(col("ts")).as("tsu"))
      .withColumn("__hr", expr(s"tsu div $hourUs"))
    val bounds = base0.agg(min(col("user_id")).as("__umin"),
      max(col("user_id")).as("__umax"))
    val base = base0.crossJoin(broadcast(bounds))
      .withColumn("__ub",
        when(col("__umin") === col("__umax"), lit(1))
          .otherwise(width_bucket(col("user_id").cast("double"),
            col("__umin").cast("double"), col("__umax").cast("double"), lit(128))))
      .drop("__umin", "__umax")
    val inBucket = Window.partitionBy(col("__hr"), col("__ub"))
      .orderBy(col("user_id"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.orderBy(col("__hr"), col("__ub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__hr"), col("__ub")).agg(max(col("tsu")).as("__bt"))
      .withColumn("__boff", max(col("__bt")).over(offW))
      .select(col("__hr"), col("__ub"), col("__boff"))
    val minUs = 60000000L
    base
      .withColumn("__rin", max(col("tsu")).over(inBucket))
      .join(broadcast(offsets), Seq("__hr", "__ub"))
      .withColumn("late_us",
        greatest(col("__rin"), coalesce(col("__boff"), col("__rin"))) - col("tsu"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > lit(minUs), 1L).otherwise(0L)).as("drop_1m"),
        sum(when(col("late_us") > lit(10 * minUs), 1L).otherwise(0L)).as("drop_10m"),
        sum(when(col("late_us") > lit(60 * minUs), 1L).otherwise(0L)).as("drop_1h"),
        expr("max(late_us) div 1000000").as("max_late_sec"))
  }

  /** Trending entities: the top-k users by event count per
    * (event_type, hour) — the leaderboard/hot-key feed over windowed
    * streams. Aggregate-then-rank: the count aggregate collapses to
    * (type, hour, user) grain FIRST (map-side combinable), so the rank
    * window's partition holds one row per active user in that cell —
    * never raw events — with the (cnt desc, user_id) tie order making
    * the cut deterministic. Rank cast to long for the cross-engine
    * schema. */
  def trending(events: DataFrame, k: Int = 3): DataFrame = {
    val hourUs = 3600000000L
    val counts = events
      .select(col("event_type"),
        expr(s"(unix_micros(ts) div $hourUs) * $hourUs").as("hr_us"),
        col("user_id"))
      .groupBy(col("event_type"), col("hr_us"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"), col("hr_us"))
      .orderBy(col("cnt").desc, col("user_id"))
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Heartbeat-gap / SLA card: per event type the inter-arrival gap
    * census — gap count, max and mean gap, p95 gap, and gaps past an
    * SLA threshold. This is the "did the feed stall" question asked of
    * every ingestion stream. Gaps are exact integer µs from one lag
    * window per type (ties broken by event id for a total order);
    * mean is one closing division of exact integers; p95 uses
    * `percentile_disc` — an ACTUAL observed gap, engine-identical
    * (interpolation would differ in last-ulp association). The window
    * partitions by type over (tsu, id)-sorted events; the card is
    * ≤|types| rows. */
  def gapCard(events: DataFrame, slaUs: Long = 3600000000L): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("tsu"), col("event_id"))
    events
      .select(col("event_type"), unix_micros(col("ts")).as("tsu"), col("event_id"))
      .withColumn("prev", lag(col("tsu"), 1).over(byType))
      .where(col("prev").isNotNull)
      .withColumn("gap_us", col("tsu") - col("prev"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        (sum(col("gap_us")).cast("double") / count(lit(1))).as("mean_gap_us"),
        // Spark's percentile_disc returns DOUBLE even over integers;
        // the value is an actual observed gap, so the long cast is exact
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_us)")
          .cast("long").as("p95_gap_us"),
        sum(when(col("gap_us") > slaUs, 1L).otherwise(0L)).as("n_sla_breaches"))
  }

  /** CUSUM change-point detection per event type — "where did this
    * metric's level shift". The cumulative sum of deviations from the
    * series mean, kept EXACT by clearing the denominator:
    * CUSUM_k = n·P_k − k·S (P_k = prefix sum of 1e-6-scaled values,
    * k = prefix count, n/S the per-type totals) — integer arithmetic in
    * Decimal(38,0), so the argmax is engine-exact, never a float-noise
    * coin flip. Defined at TIMESTAMP grain (ties within one µs share a
    * prefix — intra-tie order is unobservable anyway); both prefixes
    * ride ONE [[Cumulative.runningSum]]-shaped scan each, so no window
    * partition holds a type's full history. Output per type: the
    * change-point ts (earliest argmax of |CUSUM|), its scaled score,
    * and n. Overflow contract: n·P at 38 digits allows ~1e19 events of
    * ~1e19 scaled value — guarded loudly like giniByGroup. */
  def cusumChangePoint(events: DataFrame): DataFrame = {
    // pinned: the two-level scan references its input three times
    // (bounds / base / offsets) and the totals a fourth — without the
    // pin each reference re-scans events and re-aggregates (the
    // d_drift_ks lesson, caught there by the same plan read)
    val vc = events
      .select(col("event_type"), unix_micros(col("ts")).as("tsu"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("tsu"))
      .agg(sum(col("v")).as("vs"), count(lit(1)).as("c"))
      .localCheckpoint()
    // both prefixes (value sum AND rank) in ONE two-level scan
    val pk = Cumulative.runningSums(vc, Seq("event_type"), "tsu",
      Seq("vs" -> "pv", "c" -> "k"))
    val tot = vc.groupBy(col("event_type"))
      .agg(sum(col("vs")).as("s_tot"), sum(col("c")).as("n_tot"))
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val scored = pk.join(broadcast(tot), "event_type")
      .withColumn("cusum",
        d38(col("n_tot")) * d38(col("pv")) - d38(col("k")) * d38(col("s_tot")))
      // overflow guard INSIDE the scored column: a single nulled product
      // would silently vanish from max() and hand the argmax to the
      // wrong row — fail loudly instead (giniByGroup's contract)
      .withColumn("score",
        when(col("cusum").isNull,
          raise_error(lit("cusumChangePoint: prefix moment overflowed Decimal(38,0)"))
            .cast("decimal(38,0)"))
          .otherwise(abs(col("cusum"))))
    // argmax in ONE aggregation: max of (score, −tsu) struct is
    // lexicographic — the max score, and among its ties the EARLIEST
    // tsu — replacing the max-then-rejoin shape (a second full pass
    // over the prefix-scan subtree plus a broadcast join and re-agg)
    // with a single grouped pass; identical values by construction
    scored.groupBy(col("event_type"))
      .agg(max(struct(col("score"), (-col("tsu")).as("neg_tsu"))).as("mx"),
        first(col("n_tot")).as("n_events"))
      .select(col("event_type"),
        (-col("mx.neg_tsu")).as("change_tsu"),
        col("mx.score").cast("double").as("cusum_score"),
        col("n_events"))
  }

  /** Pattern-matched episodes — the MATCH_RECOGNIZE-lite shape
    * (signup → anything-but-error → purchase) Spark has no native
    * operator for. A purchase completes an episode opened by the MOST
    * RECENT preceding signup unless an 'error' intervened (negation —
    * the part a plain funnel can't express); every qualifying purchase
    * counts, the signup is not consumed. Both "last anchor before me"
    * marks are running maxima over ONE user-partitioned window in
    * (tsu, event_id) order, so the NFA simulation is two window
    * columns + a filter — no per-user iteration, no state store.
    * Output per user: episode count, total and mean duration. */
  def matchEpisodes(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .withColumn("last_open",
        max(when(col("event_type") === "signup", col("tsu"))).over(w))
      .withColumn("last_fail",
        max(when(col("event_type") === "error", col("tsu"))).over(w))
      .where(col("event_type") === "purchase" && col("last_open").isNotNull &&
        (col("last_fail").isNull || col("last_fail") < col("last_open")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_episodes"),
        sum(col("tsu") - col("last_open")).as("total_dur_us"),
        round6(sum(col("tsu") - col("last_open")).cast("double")
          / count(lit(1))).as("mean_dur_us"))
  }

  /** Seasonal-adjusted outliers: top-3 |residual| per event type after
    * removing the hour-of-week mean — "weird GIVEN the calendar", which
    * raw z-scores can't see. The expected value is the integer floor
    * mean (S_h div n_h — engine-exact, no rounding mode to disagree
    * on) over ≤168·|types| buckets (broadcast metadata); the top-3
    * threshold comes from the map-side `topk` aggregate (partial
    * buffers cap at k per task — shuffle O(groups·k), NO per-type rank
    * window over the corpus), and rows at the threshold all survive
    * (ties-included top-3, ≡ rank() ≤ 3). */
  def deseasonOutliers(events: DataFrame): DataFrame = {
    val k = 3
    val e = events.select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("tsu"), cents(col("value")).as("v"))
      .withColumn("how", expr("(tsu div 3600000000) % 168"))
    val m = e.groupBy(col("event_type"), col("how"))
      .agg(expr("sum(v) div count(1)").as("expected"))
    val r = e.join(broadcast(m), Seq("event_type", "how"))
      .withColumn("resid", col("v") - col("expected"))
      .withColumn("ra", abs(col("resid")).cast("double"))
    val cuts = r.groupBy(col("event_type"))
      .agg(graft.functions.TopKAggregate.topk(col("ra"), k).as("top"))
      .select(col("event_type"),
        when(size(col("top")) < k, lit(Double.NegativeInfinity))
          .otherwise(element_at(col("top"), k)).as("cut"))
    r.join(broadcast(cuts), "event_type")
      .where(col("ra") >= col("cut"))
      .select(col("event_type"), col("event_id"), col("tsu"),
        col("expected"), col("resid"))
  }

  /** Wald–Wolfowitz runs census per event type — the randomness screen
    * for a metric stream (too FEW runs = the series trends or sticks;
    * too many = it oscillates; compare n_runs against the
    * 2·n_above·n_below/n ± σ band offline). "Above" means strictly
    * above the type's DISCRETE median (`percentile_disc(0.5)` — an
    * actual observed cents value, engine-identical; ties at the median
    * count as below, documented not guessed). One type-partitioned lag
    * window in (tsu, event_id) order — the gapCard shape — plus a
    * 1-row-per-type median broadcast; all counts exact integers. */
  def runsTest(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), unix_micros(col("ts")).as("tsu"),
      col("event_id"), cents(col("value")).as("v"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long").as("med"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tsu"), col("event_id"))
    e.join(broadcast(med), "event_type")
      .withColumn("above", (col("v") > col("med")).cast("int"))
      .withColumn("prev", lag(col("above"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("above")).cast("long").as("n_above"),
        sum(col("chg")).as("n_runs"))
  }

  /** Local-peak census per event type at minute grain: resample to
    * per-minute value sums (exact cents), then a row is a peak when it
    * strictly exceeds BOTH observed neighbors (first/last minutes have
    * only one neighbor and never qualify — document, don't guess, the
    * boundary). The lag/lead window runs at minute grain — bounded by
    * the time span, never the event count. Output per type: peak count,
    * the tallest peak's minute and height. */
  def peakCensus(events: DataFrame): DataFrame = {
    val byMin = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 60000000) * 60000000").as("minu"))
      .agg(sum(cents(col("value"))).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minu"))
    val flagged = byMin
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .withColumn("is_peak",
        col("pv").isNotNull && col("nv").isNotNull &&
          col("v") > col("pv") && col("v") > col("nv"))
    val peaks = flagged.where(col("is_peak"))
    peaks.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_peaks"),
        max(struct(col("v"), col("minu").as("m"))).as("top"))
      .select(col("event_type"), col("n_peaks"),
        date_format(timestamp_micros(col("top.m")),
          "yyyy-MM-dd HH:mm").as("top_peak_minute"),
        (col("top.v").cast("double") / 100.0).as("top_peak_value"))
  }

  /** Exact autocorrelation of the gap-filled hourly event-count series
    * at lags 1..6 — the seasonality probe read before choosing a
    * deseason period or forecast baseline. Silent gaps COUNT: missing
    * hours enter as zeros (the hour grid is a calendar-bounded
    * sequence, never fact-grain), exactly as [[gapFillForward]] models
    * them.
    *
    * Cross-engine exactness: with S = Σx and n the hour count, the
    * centered series is scaled to integers y_t = n·x_t − S (BIGINT),
    * so num_l = Σ y_t·y_{t+l} and den = Σ y_t² are order-independent
    * integer sums — products in Decimal(38,0) (HUGEINT in the oracle;
    * ~1e38 headroom, the gini convention) — and acf_l = num_l/den is
    * ONE division of exactly-agreed inputs. The textbook r_l =
    * Σ(x−m)(x₊−m)/Σ(x−m)² equals num_l/den exactly (both scaled by
    * n²); no per-row float ever forms.
    *
    * Shape at scale: one hash aggregate collapses the fact table to
    * hour grain; everything after runs on the bounded series (two
    * 1-row broadcast moments, a ≤6× explode, one equi-join on the
    * shifted hour). */
  def acf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("x"))
    val grid = hourly.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
    val series = grid.join(hourly, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint() // moments + centered series both scan it
    val m = series.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val y = series.crossJoin(broadcast(m))
      .select(col("hr"), (col("n") * col("x") - col("s")).as("y"))
      .localCheckpoint() // den + both sides of the lag join
    val den = y.agg(
      sum(col("y").cast("decimal(19,0)") * col("y")).as("den"))
    y.select(col("hr"), col("y"),
        explode(expr("sequence(1, 6)")).as("lg"))
      .join(y.select((col("hr")).as("hr2"), col("y").as("y2")),
        col("hr") + col("lg") === col("hr2"))
      .groupBy(col("lg"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("y").cast("decimal(19,0)") * col("y2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lg").cast("long").as("lg"), col("n_pairs"),
        // a zero-variance (constant) series has no autocorrelation to
        // report: the 0/0 indeterminate is a stated NULL, not an ANSI
        // divide-by-zero error — the oracle mirrors the CASE
        when(col("den") === 0, lit(null))
          .otherwise(col("num").cast("double") / col("den").cast("double"))
          .as("acf"))
  }

  /** Last-touch marketing attribution: every purchase is credited to
    * the LATEST prior click/view by the same user within a lookback
    * window, then rolled up to a channel card (conversions + exact-
    * cents revenue per channel, 'none' = outside the window or no
    * touch at all).
    *
    * Differs from the e_asof family on three axes: multi-channel
    * touches (click AND view compete), a bounded lookback (stale
    * touches don't get credit), and revenue attribution.
    *
    * Scale shape: one window over the user_id partitioning (which the
    * events loader's spread already established), then a 3-row channel
    * aggregate — no joins, no driver data. Engine determinism: the
    * winning touch is carried as ONE packed long (µs·4 + channel code)
    * under max(), so there is no IGNORE-NULLS ordering to disagree on;
    * a click and a view in the same microsecond resolve to the higher
    * code (view) in both engines by the same integer max. */
  def attributionCard(events: DataFrame): DataFrame = {
    val lookbackUs = LookbackDays * 86400000000L
    val u = events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("tsu"),
        col("value"),
        // doubles as the tie-break: a same-µs touch sorts BEFORE the
        // purchase it may convert
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"),
        when(col("event_type") === "click", unix_micros(col("ts")) * 4 + 1)
          .when(col("event_type") === "view", unix_micros(col("ts")) * 4 + 2)
          .as("packed"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("is_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conv = u
      .withColumn("lastt", max(col("packed")).over(w))
      .filter(col("is_p") === 1)
      .withColumn("attributed",
        col("lastt").isNotNull && (col("tsu") - expr("lastt div 4")) <= lookbackUs)
      .select(col("value"),
        when(!col("attributed"), "none")
          .when(expr("lastt % 4") === 1, "click")
          .otherwise("view").as("channel"))
    conv.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        moneySum(col("value")).as("revenue"))
  }

  /** Multi-touch marketing attribution: every purchase's revenue is
    * SPLIT across ALL prior click/view touches by the same user within
    * the lookback window, under two credit schemes side by side —
    * linear (equal shares) and position-based (U-shaped: 40% first
    * touch, 40% last, 20% spread over the middles; n=1 → 100%,
    * n=2 → 50/50). The per-channel card these roll up to is what an
    * actual budget review compares against [[attributionCard]]'s
    * last-touch numbers.
    *
    * Exactness: credit is integer CENT·BASIS-POINT units end to end —
    * per-purchase weights are basis points summing to exactly 10 000
    * (integer division, remainder assigned to the EARLIEST positions —
    * a stated rule, not float residue), per-touch credit is
    * cents × bp (exact long), channel totals are decimal sums of
    * those, and dollars appear once at the end as one fixed division.
    * Touch order (and thus positions and remainders) is total:
    * (ts, event_id). A purchase with NO in-window touch credits
    * channel 'none' in full under both schemes.
    *
    * Scale shape: one equi-join on user_id (the shuffle key both sides
    * already spread on) with the lookback as a join-range predicate,
    * then two windows PARTITIONED BY PURCHASE (per-purchase touch
    * count is bounded by one user's lookback-window activity — never
    * corpus grain), then a ≤3-row channel aggregate. */
  def multiTouchAttribution(events: DataFrame): DataFrame = {
    val lookbackUs = LookbackDays * 86400000000L
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("ptsu"),
        col("event_id").as("pid"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val t = events.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("tu"), unix_micros(col("ts")).as("ttsu"),
        col("event_id").as("tid"), col("event_type").as("touch_channel"))
    // same-µs touch counts as before the purchase (attributionCard's
    // tie rule); the window lower bound is exclusive
    val joined = p.join(t,
      col("pu") === col("tu") && col("ttsu") <= col("ptsu") &&
        col("ttsu") > col("ptsu") - lookbackUs, "left")
    val byP = Window.partitionBy(col("pid"))
    val byPos = Window.partitionBy(col("pid"))
      .orderBy(col("ttsu"), col("tid"))
    val credited = joined
      .withColumn("n", count(col("tid")).over(byP))
      .withColumn("pos", row_number().over(byPos))
      .withColumn("lin_bp",
        when(col("n") === 0, 10000L)
          .otherwise(expr("10000 div n") +
            when(col("pos") <= lit(10000L) % col("n"), 1L).otherwise(0L)))
      .withColumn("pos_bp",
        when(col("n") <= 1, 10000L)
          .when(col("n") === 2, 5000L)
          .when(col("pos") === 1 || col("pos") === col("n"), 4000L)
          .otherwise(expr("2000 div (n - 2)") +
            when(col("pos") - 1 <= lit(2000L) % (col("n") - 2), 1L)
              .otherwise(0L)))
      .select(
        when(col("n") === 0, "none").otherwise(col("touch_channel"))
          .as("channel"),
        (col("cents").cast("decimal(38,0)") * col("lin_bp")).as("lin_cbp"),
        (col("cents").cast("decimal(38,0)") * col("pos_bp")).as("pos_cbp"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        (sum(col("lin_cbp")).cast("double") / 1000000.0).as("linear_revenue"),
        (sum(col("pos_cbp")).cast("double") / 1000000.0).as("position_revenue"))
  }
}
