package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Star-schema analytics over the TPC-H-ish tables.
  *
  * Design notes for scale: dimension tables (region/nation/customer/
  * supplier/part) are broadcast — no shuffle of the fact side for those
  * joins; fact filters sit directly on the scan (parquet pushdown); all
  * aggregations are partial map-side first. AQE re-plans skew at runtime.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary: multi-aggregate groupBy over the
    * biggest fact table. One shuffle on a low-cardinality key. */
  def q1(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: segment-filtered customer ⋈ orders ⋈ lineitem,
    * revenue per order. customer is broadcast (small after the segment
    * filter); orders⋈lineitem shuffles on orderkey only. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val orders = Tables.orders(spark, dir)
      .where(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1998-06-30").cast("timestamp"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select(col("o_orderkey"), col("o_date"), col("revenue"))
  }

  /** TPC-H Q5-style: 6-way join region→nation→{customer,supplier}→orders→
    * lineitem, revenue per nation. All dims broadcast; the only shuffles
    * are lineitem⋈orders on orderkey and the final 25-row aggregate. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    val orders = Tables.orders(spark, dir).where(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(spark, dir)
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** Window functions: top-3 orders per customer by totalprice.
    * One shuffle on custkey; row_number with a full tie-break so the
    * result is a deterministic set. */
  def topOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rnk"))
      .where(col("rnk") <= k)
  }

  /** ROLLUP aggregate — hierarchical totals in one pass. */
  def rollupSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("cnt"))

  /** Left-semi + left-anti in one result: customers tagged by whether
    * they have orders. Broadcast the distinct custkeys of orders would
    * invert the build side; Spark picks shuffled semi/anti with AQE. */
  def customersByOrderPresence(customer: DataFrame, orders: DataFrame): DataFrame = {
    val semi = customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("with_orders").as("tag"))
    val anti = customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    semi.unionAll(anti)
  }

  /** CUBE aggregate — all grouping-set combinations in one pass. */
  def cubeSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_price"), col("cnt"))

  /** Set operations: customers ordering in both years (INTERSECT) vs
    * only the first year (EXCEPT), tagged in one result. */
  def customerYearSets(orders: DataFrame): DataFrame = {
    def custsIn(y: String, y1: String) = orders
      .where(col("o_orderdate") >= lit(y).cast("timestamp") &&
        col("o_orderdate") < lit(y1).cast("timestamp"))
      .select(col("o_custkey"))
    val c96 = custsIn("1996-01-01", "1997-01-01")
    val c97 = custsIn("1997-01-01", "1998-01-01")
    c96.intersect(c97).select(lit("both").as("tag"), col("o_custkey"))
      .unionAll(c96.except(c97).select(lit("only_1996").as("tag"), col("o_custkey")))
  }

  /** Exact distinct counts per group (the count-distinct shuffle shape;
    * approx_count_distinct is the sketch alternative at scale). */
  def distinctCounts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** Exact interpolated median per group (percentile = full sort per
    * group; at 100 TB prefer approx_percentile — this is the exact
    * reference). */
  def medianByStatus(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
        count(lit(1)).as("cnt"))

  /** Fixed-width numeric histogram: floor-division binning (engine-exact
    * — one double division + floor, no rounding boundary) then a count
    * per bin. The binning is a map-only projection; one aggregate. */
  def priceHistogram(orders: DataFrame): DataFrame = {
    val binWidth = 10000.0
    orders
      .select(floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select((col("bin") * binWidth).as("bin_low"), col("cnt"))
  }

  /** Full outer join of two per-nation aggregates — rows survive from
    * BOTH sides when the other has no match (coalesced keys, zeroed
    * counts). Aggregate-then-join keeps the outer join tiny (one row per
    * nation) regardless of fact size. */
  def nationCoverage(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
    val s = supplier.groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * here each single-dimension marginal plus the grand total, WITHOUT
    * the pairwise cells a cube would add. */
  def marginalSummary(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                count(*) AS cnt,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
         FROM graft_li_gs
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
  }

  /** Ordered string aggregation: the set of line statuses per return
    * flag as one comma-joined sorted string (listagg semantics made
    * deterministic by sorting — collect_set order is partition-dependent,
    * sort_array fixes it). */
  def statusRollcall(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
        count(lit(1)).as("cnt"))

  /** ntile quartile assignment within each customer's orders by price —
    * the bucketing window shape (ntile) with a deterministic tie-break. */
  def orderQuartiles(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      ntile(4).over(w).as("quartile"))
  }

  /** Multi-quantile profile per group — exact interpolated percentiles
    * at the standard cut points, as a DISTRIBUTED SELECTION rather than
    * the built-in `percentile` aggregate. The built-in materializes
    * every group value in one non-spillable aggregation buffer
    * (an in-memory value→count map per group) — with three groups over
    * 100 TB of orders that is billions of entries on a single buffer.
    * Here the heavy lifting is a value-frequency aggregate (hash
    * shuffle keyed on DISTINCT (group, cents) pairs, map-side combined,
    * O(1) buffer) followed by a running cumulative-count window over
    * the distinct values — a streaming frame WindowExec evaluates
    * incrementally over a SPILLABLE buffer, so memory stays bounded at
    * any group size; the quantile ranks are then picked with O(1)
    * conditional aggregates and interpolated with the exact arithmetic
    * the built-in uses ((hi−pos)·lo + (pos−lo)·hi over the recovered
    * doubles), so results are bit-identical to `percentile` and to the
    * DuckDB `quantile_cont` oracle. Money rides integer cents through
    * the rank machinery (cents↔double round-trips exactly), keeping
    * ranks engine-exact. */
  def quantileProfile(orders: DataFrame): DataFrame = {
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")
    val vc = orders
      .groupBy(col("o_orderstatus"), cents(col("o_totalprice")).as("v"))
      .agg(count(lit(1)).as("c"))
    // running cumulative count over distinct values — rank span of
    // value v is [cum−c, cum−1], 0-based — via the two-level
    // bucket-monotone scan (no per-status window sized by distinct values)
    val cum = Cumulative.runningSum(vc, Seq("o_orderstatus"), "v", "c", "cum")
    val totals = orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    val ranked = cum.join(broadcast(totals), "o_orderstatus")
    // per quantile: position = q·(n−1); the rows covering floor/ceil of
    // the position supply the lower/higher values (exactly one row each
    // satisfies the span predicate, min() just extracts it)
    val pickAggs = qs.flatMap { case (q, nm) =>
      val pos = lit(q) * (col("cnt") - 1).cast("double")
      val loR = floor(pos)
      val hiR = ceil(pos)
      Seq(
        min(when(col("cum") - col("c") <= loR && loR < col("cum"), col("v")))
          .as(s"__lo_$nm"),
        min(when(col("cum") - col("c") <= hiR && hiR < col("cum"), col("v")))
          .as(s"__hi_$nm"))
    }
    val picked = ranked.groupBy(col("o_orderstatus"), col("cnt"))
      .agg(pickAggs.head, pickAggs.tail: _*)
    val outCols = col("o_orderstatus") +: qs.map { case (q, nm) =>
      val pos = lit(q) * (col("cnt") - 1).cast("double")
      val loD = col(s"__lo_$nm").cast("double") / 100.0
      val hiD = col(s"__hi_$nm").cast("double") / 100.0
      // the built-in Percentile's interpolation, operand for operand
      when(floor(pos) === ceil(pos), loD)
        .otherwise((ceil(pos) - pos) * loD + (pos - floor(pos)) * hiD)
        .as(nm)
    } :+ col("cnt")
    picked.select(outCols: _*)
  }

  /** Sketch aggregates — the 100 TB substitutes for exact distinct /
    * percentile: bounded-buffer KMV distinct estimates and a bottom-k
    * sample median, constant memory per group, mergeable across
    * partitions. Round 14 moved this entry off the engine-private
    * HLL++/KLL state onto the library's PORTABLE sketch kernels
    * ([[kmvSummary]] / [[quantileSketch]]'s machinery, same hash, same
    * estimator arithmetic) precisely so the output is CROSS-ENGINE
    * verifiable — the DuckDB oracle replays every hash and every
    * interpolation step verbatim instead of trusting an opaque sketch.
    * Same scale shape as before: ≤ k longs (+ k (hash, value) pairs)
    * per group per task ride the shuffle. */
  def sketchSummary(lineitem: DataFrame): DataFrame = {
    import graft.functions.KmvSketch._
    import graft.functions.BottomKSample._
    import graft.functions.Exact.round6
    import TextAnalysis.portableHash60
    val (k, kq) = (512, 256)
    val h = portableHash60(col("l_orderkey"), lit("-"), col("l_linenumber"))
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        kmv(portableHash60(col("l_partkey")), k).as("bp"),
        kmv(portableHash60(col("l_suppkey")), k).as("bs"),
        bottomK(h, col("l_extendedprice"), kq).as("bq"))
      .select(col("l_returnflag"),
        estimate(col("bp"), k).as("approx_parts"),
        estimate(col("bs"), k).as("approx_supps"),
        round6(sampleQuantile(col("bq"), 0.5)).as("approx_median_price"))
  }

  /** COUNT-MIN SKETCH frequency estimation — the third portable-sketch
    * family (KMV answers "how many distinct", top-k answers "which
    * exact heavy hitters", CMS answers "how often does THIS key occur"
    * in bounded space): d independent hash rows × w buckets, each
    * counter the count of keys landing in that (row, bucket), estimate
    * = min over rows — the textbook one-sided bound (CMS NEVER
    * underestimates: every counter includes the key's own count plus
    * non-negative collisions; the spec pins est ≥ exact per key and
    * the entry emits the overcount explicitly).
    *
    * Spark-first shape: the sketch IS a relational aggregate — rows
    * explode ×d (map-only), one groupBy to the (row, bucket) grain, so
    * the sketch is d·w counters REGARDLESS of input size and map-side
    * combine bounds the shuffle at d·w per task. Probing is a
    * broadcast join of (key × d) probes against the counter table.
    * Hashing is [[TextAnalysis.portableHash60]](j, ":", key), so every
    * counter — not just the estimates — replays in DuckDB. */
  private def cmsBucket(j: Column, key: Column, w: Int): Column =
    pmod(TextAnalysis.portableHash60(j, lit(":"), key), lit(w.toLong))

  /** One batch's CMS counter delta at (j, bucket) grain — ALGEBRAIC
    * (plain counts), so the sketch is maintainable by any counter-sum
    * machinery: `cmsFrequency` aggregates it in one shot, the
    * streaming replay folds per-microbatch deltas through
    * `Catalog.refreshAggMv` and lands on the identical counters. */
  private[graft] def cmsCounterDelta(keys: DataFrame, keyCol: String,
      d: Int, w: Int): DataFrame =
    keys.select(col(keyCol).as("k"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .groupBy(col("j"), cmsBucket(col("j"), col("k"), w).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for keys 1..maxKey from a CMS counter table:
    * min over the d rows' probed buckets. Returns (k, est). */
  private[graft] def cmsEstimate(spark: SparkSession, counters: DataFrame,
      d: Int, w: Int, maxKey: Long): DataFrame =
    spark.range(1, maxKey + 1)
      .select(col("id").as("k"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("k"), col("j"), cmsBucket(col("j"), col("k"), w).as("bucket"))
      .join(counters, Seq("j", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  def cmsFrequency(lineitem: DataFrame, d: Int = 4, w: Int = 256,
      maxKey: Long = 10): DataFrame = {
    val rows = lineitem.select(col("l_partkey"))
    val counters = cmsCounterDelta(rows, "l_partkey", d, w)
    val est = cmsEstimate(rows.sparkSession, counters, d, w, maxKey)
      .withColumnRenamed("k", "l_partkey")
    val exact = rows.where(col("l_partkey") <= maxKey)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("l_partkey"), "left")
      .select(col("l_partkey"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("est") - coalesce(col("exact"), lit(0L))).as("overcount"))
  }

  /** KMV distinct-count sketch summary — the oracle-CHECKABLE sketch
    * (vs [[sketchSummary]]'s HLL, whose bucket layout is engine-private
    * and can only ever be rows-only verified). Same bounded-buffer
    * map-side shape: the shuffle carries ≤ k longs per group per task.
    * Emits the k-th smallest hash (the sketch's whole state boundary)
    * and the estimate, both value-verified against a DuckDB window
    * mirror. */
  def kmvSummary(lineitem: DataFrame): DataFrame = {
    import graft.functions.KmvSketch._
    import TextAnalysis.portableHash60
    val k = 64
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        kmv(portableHash60(col("l_partkey")), k).as("bp"),
        kmv(portableHash60(col("l_suppkey")), k).as("bs"))
      .select(col("l_returnflag"),
        kthHash(col("bp"), k).as("hk_parts"),
        estimate(col("bp"), k).as("est_parts"),
        kthHash(col("bs"), k).as("hk_supps"),
        estimate(col("bs"), k).as("est_supps"))
  }

  /** KMV SET ALGEBRA for join planning: distinct-count, Jaccard, and
    * intersection estimates between two key sets from their sketches
    * alone — the "how selective is this join" question answered in one
    * cheap pass per side, no join executed. The union sketch is the
    * k smallest of the merged buffers; Jaccard is estimated as the
    * fraction of union k-mins present in BOTH sides (the standard KMV
    * coincidence estimator), and |A∩B| ≈ J·|A∪B|. Every number is a
    * pure function of the deterministic portable hashes, so the whole
    * estimator is value-verifiable cross-engine — unlike HLL
    * intersections, which are engine-private state.
    *
    * Scale shape: two bounded-buffer aggregations (≤k longs per task
    * ride each shuffle) + a 1×1 join of two single-row frames. */
  def kmvJoinEstimate(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, k: Int = 256): DataFrame = {
    import graft.functions.KmvSketch._
    import graft.functions.Exact.round6
    import TextAnalysis.portableHash60
    val ba = left.agg(kmv(portableHash60(col(leftKey)), k).as("ba"))
    val bb = right.agg(kmv(portableHash60(col(rightKey)), k).as("bb"))
    ba.join(bb)
      .withColumn("bu", slice(array_sort(array_union(col("ba"), col("bb"))), 1, k))
      .withColumn("n_both",
        size(array_intersect(array_intersect(col("bu"), col("ba")), col("bb"))))
      .select(
        round6(estimate(col("ba"), k)).as("est_left"),
        round6(estimate(col("bb"), k)).as("est_right"),
        round6(col("n_both").cast("double") / least(size(col("bu")), lit(k)))
          .as("est_jaccard"),
        round6((col("n_both").cast("double") / least(size(col("bu")), lit(k))) *
          estimate(slice(array_sort(array_union(col("ba"), col("bb"))), 1, k), k))
          .as("est_intersection"))
  }

  /** Full KMV SET-OPERATION card — [[kmvJoinEstimate]] extended with
    * the union cardinality and the inclusion-exclusion differences
    * (|A∖B|, |B∖A|), i.e. everything a join/dedup planner reads off two
    * key sets without executing anything: how many keys exist, how many
    * are shared, how many are exclusive to each side. Differences are
    * computed on the ROUNDED emitted estimates (the cross-engine
    * arithmetic idiom) and clamped at 0 — estimator noise can push a
    * difference slightly negative, and both engines clamp identically.
    * Same scale shape: two bounded-buffer sketch aggregations + a 1×1
    * join. */
  def kmvSetOps(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    import graft.functions.KmvSketch._
    import graft.functions.Exact.round6
    import TextAnalysis.portableHash60
    val k = 256
    val ba = left.agg(kmv(portableHash60(col(leftKey)), k).as("ba"))
    val bb = right.agg(kmv(portableHash60(col(rightKey)), k).as("bb"))
    val withU = ba.join(bb)
      .withColumn("bu", slice(array_sort(array_union(col("ba"), col("bb"))), 1, k))
      .withColumn("n_both",
        size(array_intersect(array_intersect(col("bu"), col("ba")), col("bb"))))
      .select(
        round6(estimate(col("ba"), k)).as("est_left"),
        round6(estimate(col("bb"), k)).as("est_right"),
        round6(estimate(col("bu"), k)).as("est_union"),
        round6((col("n_both").cast("double") / least(size(col("bu")), lit(k))) *
          estimate(col("bu"), k)).as("est_intersection"))
    withU.select(col("est_left"), col("est_right"), col("est_union"),
      col("est_intersection"),
      greatest(col("est_left") - col("est_intersection"), lit(0.0)).as("est_left_only"),
      greatest(col("est_right") - col("est_intersection"), lit(0.0)).as("est_right_only"))
  }

  /** Bottom-k-sample quantile sketch — the oracle-checkable counterpart
    * of [[sketchSummary]]'s percentile_approx (KLL compaction is
    * engine-private; a hash-ordered bottom-k sample is a window
    * function). ≤k (hash, value) pairs per group per task ride the
    * shuffle; quantiles are type-7 interpolation over the sample with
    * the arithmetic shape mirrored verbatim in the oracle. */
  def quantileSketch(lineitem: DataFrame, k: Int = 256): DataFrame = {
    import graft.functions.BottomKSample._
    import graft.functions.Exact.round6
    import TextAnalysis.portableHash60
    // varargs kernel: digits + separator feed the digest directly — no
    // per-row casts, no concat allocation
    val h = portableHash60(col("l_orderkey"), lit("-"), col("l_linenumber"))
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(bottomK(h, col("l_extendedprice"), k).as("b"))
      .select(col("l_returnflag"),
        size(col("b")).cast("long").as("n_sample"),
        round6(sampleQuantile(col("b"), 0.5)).as("p50_est"),
        round6(sampleQuantile(col("b"), 0.95)).as("p95_est"))
  }

  /** Argmin join-back: the cheapest part(s) within each brand. The
    * per-group min is a tiny aggregate (one row per brand) broadcast back
    * against the full table — no shuffle of the fact side. Equality on
    * the double is safe: min selects an existing value, no arithmetic. */
  def cheapestPartPerBrand(part: DataFrame): DataFrame = {
    val mins = part.groupBy(col("p_brand").as("m_brand"))
      .agg(min(col("p_retailprice")).as("min_price"))
    part.join(broadcast(mins),
        col("p_brand") === col("m_brand") && col("p_retailprice") === col("min_price"))
      .select(col("p_brand"), col("p_partkey"), col("min_price"))
  }

  /** Forecast-revenue filter (TPC-H Q6 shape): revenue that would be
    * gained by dropping discounts in a band for a shipping window —
    * one pushed-filter scan, one aggregate, no join. The
    * price×discount product is summed as cents×cents integer units
    * (exact: both columns carry 2 decimals), divided once at the end. */
  def forecastRevenue(lineitem: DataFrame): DataFrame = {
    import graft.functions.Exact.cents
    lineitem
      .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.09 &&
        col("l_quantity") < 30)
      // per-row product stays long (≤10⁸); the SUM accumulates in
      // Decimal(38,0) — in int64 it sits within ~10× of wrap at 100 TB
      // (DuckDB's mirror already sums to HUGEINT)
      .agg((sum((cents(col("l_extendedprice")) * cents(col("l_discount")))
        .cast("decimal(38,0)"))
        .cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Late-shipment priority split (TPC-H Q12 shape, adapted to the
    * columns this schema carries): among lineitems shipped more than
    * 60 days after their order date, how many belong to high-priority
    * orders vs the rest, per return flag. Fact-fact equi-join on the
    * order key; the priority CASE rides the aggregate. */
  def latePriority(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))

  /** Promo revenue share (TPC-H Q14 shape): the percentage of revenue
    * in a shipping window coming from promotional parts. Dimension
    * broadcast join + one aggregate; both sums are integer cents of the
    * discounted price, so the final ratio is one double division with
    * the identical shape on both engines. */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    import graft.functions.Exact.{cents, round6}
    val disc = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .agg(round6(
        sum(when(col("p_type") === "PROMO", disc).otherwise(0L)).cast("double") * 100.0 /
          sum(disc).cast("double")).as("promo_pct"),
        count(lit(1)).as("n_lines"))
  }

  /** Returned-item top customers (TPC-H Q10 shape): revenue lost to
    * returns per customer, top 20. Fact-fact equi-join on the order
    * key, customer dimension broadcast, exact-cents revenue, and the
    * global top-k plans as TakeOrderedAndProject (bounded heaps) with a
    * total-order tiebreak on the key. */
  def returnedTopCustomers(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame = {
    import graft.functions.Exact.cents
    lineitem.where(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .cast("double") / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Correlated-scalar-subquery shape (TPC-H Q17): lineitems whose
    * quantity is below 20% of their part's average quantity. Expressed
    * decorrelated — per-part averages as one aggregate joined back — the
    * plan Catalyst's decorrelation would produce anyway; the average is
    * integer-cents exact so the 0.2× threshold compares identically on
    * any engine. */
  def smallQuantityOrders(lineitem: DataFrame): DataFrame = {
    val avgQ = lineitem.groupBy(col("l_partkey").as("ap"))
      .agg(moneyAvg(col("l_quantity")).as("avg_qty"))
    lineitem
      .join(avgQ, col("l_partkey") === col("ap") &&
        col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(count(lit(1)).as("n_small"),
        moneySum(col("l_extendedprice")).as("sum_price"))
  }

  /** Pivot: per-user event counts, one column per event type (fixed
    * column set so the plan is static — no driver-side distinct pass). */
  def eventTypePivot(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Running total: cumulative revenue per customer in order-date order
    * — the canonical growing-frame window. Integer-cents accumulation
    * (an exact prefix of longs), divided once per row, so every prefix
    * is engine-identical; ties broken by order key for a total order. */
  def runningRevenue(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.cents
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
      (sum(cents(col("o_totalprice"))).over(w).cast("double") / 100.0)
        .as("running_rev"))
  }

  /** Unpivot (melt): the wide per-user event-count table back to long
    * (user, event_type, cnt) rows — zero-count cells included, which is
    * what distinguishes melt from a plain groupBy. Spark's native
    * `unpivot` (no UDF, no explode-of-struct hand-rolling). */
  def eventTypeUnpivot(events: DataFrame): DataFrame =
    eventTypePivot(events).unpivot(
      Array(col("user_id")),
      Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
      "event_type", "cnt")

  /** 7-row moving average of daily revenue — a sliding ROWS frame over
    * an ordered window, WITHOUT a global single-partition WindowExec:
    * the window is partitioned by year, and each year's first 6 frames
    * see the previous year's last 6 rows via duplicated "carry" rows
    * (computed with a year-partitioned window, so every stage is
    * parallel). ROWS-frame semantics are preserved exactly — a carry row
    * is the previous 6 ROWS regardless of calendar gaps — and carry rows
    * are dropped from the output after feeding their frames. Sums stay
    * in integer cents inside the frame so the average is engine-exact.
    *
    * Carry selection is exact for ANY year distribution (empty calendar
    * years, years with fewer than 6 days): the candidate set is each
    * year's last ≤6 rows — the global previous-6 of any year is always
    * contained in that union — and each target year picks its true
    * previous 6 from all EARLIER candidates, not just `yr-1`. The
    * candidate table is ≤ 6·#years rows, so the year×candidate join
    * broadcasts and every window stays partitioned. */
  def movingAvgDailyRevenue(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.cents
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("cents"))
      .withColumn("yr", year(col("day")))
    val tail6 = Window.partitionBy(col("yr")).orderBy(col("day").desc)
    // last ≤6 rows of every year — the only rows that can ever be part
    // of a later year's previous-6 frame prefix
    val tails = daily
      .withColumn("rnd", row_number().over(tail6))
      .where(col("rnd") <= 6).drop("rnd")
    val years = daily.select(col("yr").as("tgt")).distinct()
    // for each present year: the 6 most recent candidate rows strictly
    // before it (candidates are tiny → broadcast; window is per-target)
    val perTarget = Window.partitionBy(col("tgt")).orderBy(col("day").desc)
    val carry = years
      .join(broadcast(tails.withColumnRenamed("yr", "src")), col("src") < col("tgt"))
      .withColumn("rnd", row_number().over(perTarget))
      .where(col("rnd") <= 6)
      .select(col("day"), col("cents"), col("tgt").as("yr"))
      .withColumn("is_carry", lit(true))
    val stitched = daily.withColumn("is_carry", lit(false)).unionByName(carry)
    val w = Window.partitionBy(col("yr")).orderBy(col("day")).rowsBetween(-6, Window.currentRow)
    stitched
      .select(
        col("is_carry"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        (sum(col("cents")).over(w).cast("double") / 100.0 /
          count(lit(1)).over(w)).as("mov_avg7"))
      .where(!col("is_carry"))
      .drop("is_carry")
  }

  /** Post-aggregation filter (HAVING). */
  def bigCustomers(orders: DataFrame, minOrders: Long): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_cnt"), moneySum(col("o_totalprice")).as("total_spent"))
      .where(col("order_cnt") > minOrders)

  /** Per-group simple linear regression (y = slope·x + b) from exact
    * integer moment sums — the distributed-statistics shape done
    * engine-exactly: n, Σx, Σy, Σxy, Σx² accumulate in Decimal(38,0)
    * (one map-side-combined aggregate, order-independent, NO int64
    * wrap at any corpus size — Σxy in longs would wrap near ~1.8×10⁸
    * rows/group at full cents scale, and DuckDB would raise where
    * Spark wraps silently, the e_anomaly divergence class). The
    * moments are emitted as doubles (exact integers up to 2⁵³;
    * identical round-to-nearest from the exact decimal on both
    * engines past it) and only the slope divides — the same IEEE
    * expression shape as the DuckDB mirror. Emitting the moments
    * alongside the slope makes the aggregate mergeable: partial moment
    * rows combine by addition at any scale. */
  def regressionByFlag(lineitem: DataFrame): DataFrame = {
    val xD = col("x").cast("decimal(38,0)")
    lineitem
      .select(col("l_returnflag"),
        cents(col("l_quantity")).as("x"), cents(col("l_extendedprice")).as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(xD).as("sxd"), sum(col("y").cast("decimal(38,0)")).as("syd"),
        sum(xD * col("y")).as("sxyd"), sum(xD * col("x")).as("sxxd"))
      .select(col("l_returnflag"), col("n"),
        col("sxd").cast("double").as("sx"), col("syd").cast("double").as("sy"),
        col("sxyd").cast("double").as("sxy"), col("sxxd").cast("double").as("sxx"))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        round6((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
          .as("slope"))
  }

  /** EXISTS-subquery shape (TPC-H Q4): orders counted by priority when
    * at least one of their lineitems shipped more than 30 days after
    * the order date. The EXISTS decorrelates to a LEFT-SEMI hash join
    * on the order key (the date predicate rides the join as a
    * co-partitioned filter, µs-integer comparison) — per order the semi
    * join emits at most one row, so the aggregate input is bounded by
    * the order count at any scale. */
  def latePriorityCounts(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lateUs = 30 * 86400000000L
    // date columns are parquet TIMESTAMP_NTZ; unix_micros needs an
    // instant — the NTZ→LTZ cast interprets the wall clock in the
    // session zone (pinned UTC), exactly DuckDB's epoch_us on a naive
    // timestamp
    val li = lineitem.select(col("l_orderkey"),
      unix_micros(col("l_shipdate").cast("timestamp_ltz")).as("ship_us"))
    orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp_ltz")).as("order_us"))
      .join(li, col("l_orderkey") === col("o_orderkey") &&
        col("ship_us") > col("order_us") + lit(lateUs), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Customer-order-count distribution (TPC-H Q13): how many customers
    * placed exactly k orders, INCLUDING k=0 (the left outer join is the
    * point — an inner join silently drops the idle majority). Two
    * aggregates: per-customer counts (shuffle on custkey), then the
    * tiny distribution rollup. */
  def custDist(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
        Seq("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Scalar-subquery + anti-join shape (TPC-H Q22): per-nation count
    * and total balance of customers whose balance is strictly above the
    * average positive balance and who placed no order since 1999
    * (lapsed high-value accounts). The average is never materialized as
    * a double: the comparison is cross-multiplied in integer cents
    * (bal·n > Σbal) so the threshold is engine-exact. The 1-row
    * aggregate broadcasts; the anti join is a hash join on custkey with
    * the date filter pushed into the orders scan. */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val posStats = customer.where(col("c_acctbal") > 0)
      .agg(sum(cents(col("c_acctbal"))).as("pos_cents"),
        count(lit(1)).as("pos_n"))
    val recent = orders
      .where(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
      .select(col("o_custkey").as("c_custkey"))
    customer
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .crossJoin(broadcast(posStats))
      .where(cents(col("c_acctbal")) * col("pos_n") > col("pos_cents"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
  }

  /** TPC-H Q7-style volume shipping: revenue flowing from one supplying
    * region's nations to another region's customer nations, by ship
    * year (regions rather than the spec's two fixed nations — the
    * synthetic data has 25 thin nations). Scale shape: the only
    * fact-fact shuffle is lineitem⋈orders on orderkey; supplier,
    * customer, and both nation→region dim chains broadcast, and the
    * ship-date filter pushes into the lineitem scan. */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    def nationsOf(rName: String, out: String) = nation
      .join(region.where(col("r_name") === rName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name").as(out))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nationsOf("EUROPE", "supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nationsOf("ASIA", "cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** TPC-H Q8-style market share: the fraction of a customer region's
    * revenue for one part type that is supplied from a given supplier
    * region, by order year. Both sides of the ratio are exact integer
    * cents, so the division (identical longs on both engines) is
    * deterministic; the result is scaled-floor rounded. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    val custNations = nation
      .join(region.where(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNations = nation
      .join(region.where(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("sn_key"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(suppNations), col("s_nationkey") === col("sn_key"), "left")
      .select(col("s_suppkey"), col("sn_key").isNotNull.as("from_supp_region"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(custNations), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).where(col("p_type") === "STANDARD")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round6(
        sum(when(col("from_supp_region"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .otherwise(lit(0L))).cast("double") /
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double")).as("mkt_share"))
  }

  /** TPC-H Q15-style top supplier: per-supplier revenue over one
    * quarter, returning the supplier(s) achieving the maximum. The
    * argmax compares exact integer cents (no double-sum ordering
    * ambiguity); the 1-row max broadcasts back against the per-supplier
    * table, which is |suppliers| rows — never the fact table. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev_cents"))
    val top = rev.agg(max(col("rev_cents")).as("max_cents"))
    rev.join(broadcast(top), col("rev_cents") === col("max_cents"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_cents").cast("double") / 100.0).as("total_revenue"))
  }

  /** TPC-H Q18-style large-volume orders: orders whose total quantity
    * exceeds the threshold, with their customer. The HAVING runs on the
    * map-side-combined per-order aggregate BEFORE any dimension join,
    * so only qualifying orders (a tiny fraction) reach the join;
    * quantities are integral doubles, summed exactly. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .where(col("sum_qty") > 250L)
    Tables.orders(spark, dir)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        col("o_totalprice"), col("sum_qty"))
  }

  /** TPC-H Q19-style discounted revenue: one-row sum under an
    * OR-of-ANDs predicate over part attributes and line quantity. The
    * disjunction composes per-branch (brand, size, quantity) ranges;
    * part is broadcast and the whole predicate evaluates in the join,
    * nothing materializes between. */
  def q19DiscRevenue(spark: SparkSession, dir: String): DataFrame = {
    val branches =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 5) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .where(branches)
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** CUME_DIST over the DISTINCT-VALUE table: the cumulative
    * distribution of order totalprice per status, emitted per distinct
    * cents value (cum_v / n — an exact rational both engines derive
    * identically) rather than per row. The window runs over the
    * value-count table like the exact quantiles, so no corpus-sized
    * partition ever sorts; a per-row cume_dist is a broadcast-join of
    * this table away. */
  def cumeDistByStatus(orders: DataFrame): DataFrame = {
    val vc = orders
      .groupBy(col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
      .agg(count(lit(1)).as("c"))
    val totals = orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    Cumulative.runningSum(vc, Seq("o_orderstatus"), "price_cents", "c", "cum")
      .join(broadcast(totals), "o_orderstatus")
      .select(col("o_orderstatus"), col("price_cents"),
        round6(col("cum").cast("double") / col("n")).as("cume_dist"))
  }

  /** Deterministic MODE by group: most frequent value via count + a
    * rank-1 window over the per-group COUNT table (|groups × values|
    * rows, never the fact table), ties to the smallest value — a total
    * order, so the result is engine-exact where built-in `mode()` ties
    * are engine-private. */
  def modeByGroup(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = orders
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"))
  }

  /** TPC-H Q16-style supplier-relationship counts (adapted: the
    * synthetic schema ships no partsupp table, so the part-supplier
    * relation is DERIVED as the distinct (partkey, suppkey) pairs that
    * actually traded in lineitem): distinct suppliers per qualifying
    * (brand, type, size). A materialized pair-distinct would be
    * redundant — countDistinct dedups suppliers itself, so the plan is
    * just broadcast-join + one distinct aggregate (its partial phase
    * dedups (group, suppkey) map-side before the only shuffle). */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .where(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q9-style product-type profit by nation and year (adapted:
    * no partsupp supplycost, so cost is proxied as 20% of retail price
    * × quantity — deterministic and mirrored in the oracle): both
    * profit legs are exact integer-cents sums subtracted before the one
    * double division. The only fact-fact shuffle is lineitem⋈orders;
    * the name-filtered part table and the supplier→nation chain
    * broadcast. */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .where(col("p_name").contains("bolt"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))) -
        sum(cents(col("p_retailprice") * col("l_quantity") * 0.2)))
        .cast("double") / 100.0).as("profit"))
  }

  /** TPC-H Q21-style waiting suppliers (adapted: the synthetic schema
    * has no commit/receipt dates, so "late" is shipping >90 days after
    * the order date): for 'F' orders with 2+ suppliers where EXACTLY ONE
    * supplier shipped late, count that supplier's late line items.
    *
    * The classic EXISTS/NOT-EXISTS pair would self-join lineitem twice;
    * this computes one per-order aggregate instead — distinct-supplier
    * count, distinct-LATE-supplier count, the unique late supplier, and
    * its late-item count — one shuffle on orderkey, then a broadcast
    * supplier/nation join on the tiny qualifying set. The DuckDB oracle
    * uses the EXISTS formulation, so the rewrite is equivalence-checked
    * per round. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
    // two-level instead of countDistinct×2: the double-distinct plan
    // Expands every row 3-way before the shuffle; pre-aggregating to
    // (order, supplier) grain first is map-side combinable and ships
    // one row per order-supplier pair (measured 1.6 s → sub-second at
    // sf0.1)
    val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("is_late")).as("supp_late"),
        sum(when(col("is_late"), 1L).otherwise(0L)).as("late_items"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("supp_late"), col("l_suppkey"))).as("late_supp"),
        sum(when(col("supp_late"), col("late_items")).otherwise(0L)).as("n_late_items"))
      .where(col("n_supp") >= 2 && col("n_late_supp") === 1)
    val suppInNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .where(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    perOrder
      .join(broadcast(suppInNation), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_items")).as("numwait"))
  }

  /** TPC-H Q2-style minimum-cost supplier (adapted: no partsupp table,
    * so the part-supplier relation is the traded (partkey, suppkey)
    * pairs and "supply cost" is the MINIMUM traded line price in exact
    * integer cents — deterministic, division-free, mirrored in the
    * oracle): for each qualifying part, the cheapest supplier in the
    * target region, ties pinned by smallest suppkey.
    *
    * The classic correlated `= (SELECT min(ps_supplycost) ...)` becomes
    * a rank-1 window over the PAIR-grain cost table — never the fact
    * table. One lineitem shuffle (map-side-combined min per pair), the
    * filtered part side broadcast, the region-filtered supplier chain
    * left to Catalyst (auto-broadcast under threshold, shuffle join
    * beyond — the supplier table is region-fraction-sized, so a forced
    * hint would be wrong at extreme SF). */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val euro = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir)
          .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name").as("nation"))
    val parts = Tables.part(spark, dir)
      .where(col("p_type") === "LARGE" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_name"))
    val pairCost = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("cost_cents"), col("s_suppkey"))
    pairCost
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(euro, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("s_acctbal"), col("s_name"), col("nation"),
        col("p_partkey"), col("p_name"),
        (col("cost_cents").cast("double") / 100.0).as("cost"))
  }

  /** TPC-H Q11-style important stock (adapted: part "value" held by a
    * NATION_3's suppliers is the exact-cents sum of their traded line
    * prices): parts whose value exceeds `permil`/1000 of the nation's
    * total. The scalar-subquery threshold never becomes a double — the
    * comparison is cross-multiplied in integer cents
    * (value·1000 > Σvalue·permil), so membership is engine-exact at the
    * boundary. One fact shuffle on partkey after a broadcast
    * supplier-filter semi join; the 1-row grand total broadcasts into
    * the part-grain frame (the q_abc shape). */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val permil = 1
    val suppN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .where(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = Tables.lineitem(spark, dir)
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
    val total = vals.agg(sum(col("value_cents")).as("total_cents"))
    vals.crossJoin(broadcast(total))
      .where(col("value_cents") * 1000 > col("total_cents") * permil)
      .select(col("p_partkey"),
        (col("value_cents").cast("double") / 100.0).as("value"))
  }

  /** TPC-H Q20-style potential part promotion (adapted: no partsupp
    * availqty, so "excess availability" is a pair whose ALL-TIME traded
    * quantity exceeds twice its 1997 shipments — most of the
    * relationship's volume sits outside the promo year): the distinct
    * suppliers holding such a pair for a name-matched part, with their
    * nation. Quantities are integral in this schema, summed as longs —
    * the 2× threshold is integer-exact.
    *
    * The classic nested EXISTS/IN chain is one pair-grain aggregate
    * with a conditional sum (availability and promo-year shipments from
    * the SAME scan — no lineitem self-join), then a distinct over the
    * tiny qualifying set and broadcast name joins. */
  def q20PotentialPromo(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .where(col("p_name").contains("bolt"))
      .select(col("p_partkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("avail"),
        sum(when(year(col("l_shipdate")) === 1997,
          col("l_quantity").cast("long")).otherwise(0L)).as("shipped"))
      .where(col("shipped") > 0 && col("avail") > col("shipped") * 2)
      .select(col("l_suppkey")).distinct()
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("nation"))
  }

  /** Pearson correlation + population covariance of quantity vs price
    * per return flag, computed from EXACT integer-cents moment sums
    * (n, Σx, Σy, Σx², Σy², Σxy as DECIMAL(38,0)) rather than the
    * built-in `corr` — the built-ins accumulate doubles whose rounding
    * depends on partition merge order, so they can never hash-match a
    * second engine. Here every input to float-land is an exact integer
    * and the closing arithmetic is the identical expression tree on
    * both sides (IEEE *,/,sqrt are correctly rounded → deterministic).
    * One map-side-combinable aggregate; moment state is O(1) per group. */
  def corrQtyPrice(lineitem: DataFrame): DataFrame = {
    val m = lineitem
      .select(col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
      (expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
        sqrt(expr("CAST(n * sxx - sx * sx AS DOUBLE)") *
          expr("CAST(n * syy - sy * sy AS DOUBLE)"))).as("corr_qty_price"),
      (expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
        expr("CAST(n * n AS DOUBLE)")).as("covar_pop_c2"))
  }

  /** Boolean + bitwise aggregate family per order priority: bool_and /
    * bool_or over a price predicate, bit_and / bit_or / bit_xor over
    * order keys. All six are order-independent single-pass aggregates
    * (map-side combinable, O(1) state) — the "does every/any row
    * satisfy" and checksum shapes a validation pipeline runs at scale. */
  def boolBitProfile(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(expr("bool_and(o_totalprice > 1000.0)").as("all_over_1k"),
        expr("bool_or(o_totalprice > 100000.0)").as("any_over_100k"),
        expr("bit_and(o_orderkey)").as("keys_and"),
        expr("bit_or(o_orderkey)").as("keys_or"),
        expr("bit_xor(o_orderkey)").as("keys_xor"),
        count(lit(1)).as("cnt"))

  /** The ranking window-function family in one pass: percent_rank /
    * dense_rank over the customer's price order, plus nth_value and
    * first_value over the full-partition frame — all four share ONE
    * window sort (one shuffle on o_custkey). percent_rank is the single
    * exact division (rank−1)/(n−1); the (cents desc, orderkey) order is
    * total, so every emitted value is deterministic. */
  def windowFunctionProfile(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .select(col("o_custkey"), col("o_orderkey"),
        percent_rank().over(w).as("pr"),
        dense_rank().over(w).as("dr"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
        first(col("cents")).over(full).as("top_cents"))
  }

  /** Trailing-30-day customer spend — a RANGE-frame window (event-time
    * distance, not row count): per order, the customer's order count and
    * cents total over the preceding 30 days including peers at the same
    * timestamp. RANGE frames are the windowed form every rolling-risk /
    * velocity feature takes; the frame is resolved by a per-partition
    * ordered scan, state bounded by the densest 30-day span per
    * customer. µs-integer order key keeps the frame arithmetic
    * engine-exact. */
  def trailingSpend(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spanUs = 30 * 86400000000L
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("odu"))
      .rangeBetween(-spanUs, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("odu"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("cents")).over(w).as("trailing_cents"),
        count(lit(1)).over(w).as("trailing_orders"))
  }

  /** Year-over-year revenue growth per nation: exact-cents revenue at
    * (nation, year) grain, then a lag window for the growth ratio —
    * one division of two exact integers, deterministic. The window
    * partitions by nation over ≤years rows each — bounded, trivially
    * parallel. The customer join keys the one fact shuffle; nation
    * broadcasts. */
  def yoyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("rev_cents"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("o_year"))
    rev
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .select(col("n_name"), col("o_year"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (col("rev_cents") - col("prev_cents")).cast("double")
          ./(col("prev_cents").cast("double")).as("yoy_growth"))
  }

  /** Per-order part basket as a COMPLEX-TYPE pipeline: sorted distinct
    * part keys per order, then higher-order array functions over the
    * basket (size, bounds, an `aggregate` fold) — the collect→transform
    * shape feature pipelines use for per-entity token/ID lists. The
    * basket is bounded by order size (map-side combinable collect_set);
    * arrays serialize to a canonical comma string for the cross-engine
    * hash (sorted → identical rendering both sides). */
  def orderBaskets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(col("l_orderkey"),
        size(col("parts")).as("n_parts"),
        element_at(col("parts"), 1).as("first_part"),
        element_at(col("parts"), -1).as("last_part"),
        expr("aggregate(parts, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("sum_parts"),
        array_join(col("parts"), ",").as("parts_csv"))

  /** Exact Gini coefficient of per-customer spend, per nation — the
    * skew data-card a 100 TB pipeline reads BEFORE choosing salting /
    * AQE skew handling, computed without floats until the final
    * division: G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-rank
    * cents.
    *
    * Scale shape: ranks come from [[Cumulative.runningSum]] over the
    * per-(nation, spend) value-count table — no window partition ever
    * scales with a nation's customer count. Ties collapse before the
    * scan: a block of c customers at equal spend x starting after rank
    * r₀ contributes x·(c·r₀ + c(c+1)/2) to Σi·xᵢ regardless of intra-tie
    * order, so the value-count grain loses nothing. All moments are
    * Decimal(38,0); the oracle replays the naive row_number formulation
    * in HUGEINT — different formulation, same integers. */
  def giniSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"))
    giniByGroup(spend)
  }

  /** Core of [[giniSpend]]: exact Gini per `n_name` group of the long
    * values in `x` (one row per member). Separated so the tie-block
    * arithmetic is unit-testable against hand-computed coefficients. */
  def giniByGroup(spend: DataFrame): DataFrame = {
    val vc = spend.groupBy(col("n_name"), col("x"))
      .agg(count(lit(1)).as("c"))
    val ranked = Cumulative.runningSum(vc, Seq("n_name"), "x", "c", "r")
    val xD = col("x").cast("decimal(38,0)")
    val cD = col("c").cast("decimal(38,0)")
    val rD = col("r").cast("decimal(38,0)")
    // c(c+1)/2 in integer `div` (always even product — exact), BEFORE
    // the decimal cast: decimal `/` would widen the scale and round
    val triang = expr("(c * (c + 1)) div 2").cast("decimal(38,0)")
    val blockSixi = xD * (cD * (rD - cD) + triang)
    val m = ranked
      .select(col("n_name"), cD.as("c"), (xD * cD).as("xc"),
        blockSixi.as("sixi"))
      .groupBy(col("n_name"))
      .agg(sum(col("c")).as("n"), sum(col("xc")).as("sx"),
        sum(col("sixi")).as("sixi"))
    // Overflow contract: in non-ANSI Spark a Decimal(38,0) product past
    // ~1e38 silently nulls while the oracle's HUGEINT raises — so a null
    // moment here must FAIL LOUDLY, not emit gini=null. Headroom is
    // ample at any realistic scale (Σi·xᵢ ≤ n²·max_cents needs n·√x̄
    // past ~1e19 — a quintillion-customer nation) but the guard makes
    // the exactness claim checkable instead of assumed. The guard lives
    // INSIDE the output expression so column pruning cannot remove it.
    val num = col("sixi") * lit(2) - (col("n") + lit(1)) * col("sx")
    val den = col("n") * col("sx")
    m.select(col("n_name"), col("n").cast("long").as("n_cust"),
      when(num.isNull || den.isNull,
        raise_error(lit("giniByGroup: moment overflowed Decimal(38,0)")).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")).as("gini"))
  }

  /** Two-phase SKYLINE (Pareto frontier, both dimensions MINIMIZED) —
    * the multi-objective shortlist query ("no part is both cheaper and
    * smaller") that has no native Spark operator. A point is dominated
    * iff some point is ≤ in both dimensions and strictly < in one;
    * for 2-D that collapses to two prefix minima over the distinct-x
    * grain: dominated(x, y) ⇔ minY(x' < x) ≤ y  ∨  minY(x' = x) < y.
    *
    * Scale shape: the corpus reduces to one row per distinct x (the
    * per-x min-y aggregate), the strict-prefix min runs as
    * [[Cumulative.runningMin]]'s two-level bucket-monotone scan (no
    * window partition ever holds the distinct-value table), and the
    * verdict joins back at x grain — total cost one aggregate + one
    * bounded scan + one hash join, vs the naive O(n²) dominance
    * self-join (which is exactly the formulation the DuckDB oracle
    * runs — deliberately the opposite plan). Duplicate frontier points
    * both survive (neither strictly dominates). */
  def skyline(df: DataFrame, xCol: String, yCol: String,
      keyCols: Seq[String]): DataFrame = {
    val pts = df.select(
      (keyCols.map(col) :+ col(xCol).as("__x") :+ col(yCol).as("__y")): _*)
    val perX = pts.groupBy(col("__x")).agg(min(col("__y")).as("__my"))
      .withColumn("__g", lit(1))
    val prior = Cumulative.runningMin(perX, Seq("__g"), "__x", "__my", "__prior")
      .select(col("__x"), col("__my"), col("__prior"))
    pts.join(prior, "__x")
      .where(coalesce(col("__prior") > col("__y"), lit(true)) &&
        col("__my") >= col("__y"))
      .select((keyCols.map(col) :+ col("__x").as(xCol) :+ col("__y").as(yCol)): _*)
  }

  /** Driver entry: the cheap-and-small part frontier (price in exact
    * cents so the x grain is integer-stable cross-engine). */
  def partSkyline(spark: SparkSession, dir: String): DataFrame =
    skyline(
      Tables.part(spark, dir).select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
        col("p_size").cast("long").as("size")),
      "price_cents", "size", Seq("p_partkey"))

  /** Referential-integrity / data-quality audit — the ingest gate a
    * 100 TB pipeline runs BEFORE analytics trusts a new drop: duplicate
    * business keys, orphaned facts (anti joins on the join keys every
    * downstream query assumes), and null rates on load-bearing columns,
    * as one long-format (metric, value) card. Each metric is a single
    * aggregate or co-partitioned anti join; the union is six bounded
    * rows. A healthy drop reads all-zeros except the row counts. */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame =
    integrityCard(Tables.orders(spark, dir), Tables.lineitem(spark, dir),
      Tables.customer(spark, dir))

  /** Core of [[integrityAudit]], separated so planted-defect fixtures
    * are unit-testable. */
  def integrityCard(ord: DataFrame, li: DataFrame, cust: DataFrame): DataFrame = {
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col("value"))
    one("orders_rows", ord.agg(count(lit(1)).as("value")))
      .unionAll(one("orders_dup_keys", ord.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("value"))))
      .unionAll(one("lineitem_orphans", li.select(col("l_orderkey"))
        .join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("value"))))
      .unionAll(one("orders_orphan_cust", ord.select(col("o_custkey"))
        .join(cust.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("value"))))
      .unionAll(one("lineitem_null_qty",
        li.agg(sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("value"))))
      .unionAll(one("orders_null_date",
        ord.agg(sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("value"))))
  }

  /** Market-basket co-occurrence: pairs of parts appearing in the same
    * order, with support ≥ `minSupport` — the first A-priori pass, and
    * the shape item-similarity / co-view features are mined with at
    * scale. One distinct pass collapses duplicate lines, then a
    * CO-PARTITIONED self-join on the order key (one shuffle, reused for
    * both sides) whose fan-out is C(k,2) bounded by basket size — never
    * |parts|². The canonical a<b orientation generates each pair once.
    *
    * Hot-basket safety valve: one pathological 10⁴-item basket is 5×10⁷
    * pairs materialized on a single join key — so baskets larger than
    * `maxBasket` items are EXCLUDED from the self-join, and the count of
    * excluded baskets is surfaced as a sentinel row `(-1, -1, n_dropped)`
    * (always present, 0 when nothing was dropped) — a cap the consumer
    * can see, never a silent one. The basket-size window partitions by
    * the same order key as the self-join, so the sizing pass rides the
    * identical hash exchange. */
  def basketPairs(lineitem: DataFrame, minSupport: Long = 2L,
      maxBasket: Int = 1000): DataFrame =
    basketPairsFrom(sizedItems(lineitem), minSupport, maxBasket)

  /** The shared (order, part, basket-size) frame behind
    * [[basketPairs]] and [[basketRules]] — MATERIALIZED once
    * (localCheckpoint): it feeds both self-join sides and the
    * dropped-basket census (and in the rules entry the item counts and
    * basket total too), so the fact-table distinct + sizing window
    * run one time, not three-to-five ((order, part) grain, below fact
    * grain by construction). Measured 3.4 → 1.7 s on the pairs entry.
    * Note the documented localCheckpoint tradeoffs: the call is EAGER
    * (a Spark job runs here, not at the consumer's action), the blocks
    * live until the returned plan is garbage-collected (ContextCleaner
    * frees them — the consumers hold the only references), and the
    * truncated lineage is not recomputable under executor loss. */
  private def sizedItems(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("l_orderkey"))))
      .localCheckpoint()
  }

  /** [[basketPairs]] over a pre-sized frame (one row per (order, part)
    * with its basket size). */
  private def basketPairsFrom(sized: DataFrame, minSupport: Long,
      maxBasket: Int): DataFrame = {
    val kept = sized.where(col("bsz") <= maxBasket)
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    val dropped = sized.where(col("bsz") > maxBasket)
      .agg(countDistinct(col("l_orderkey")).as("support"))
      .select(lit(-1L).as("p1"), lit(-1L).as("p2"), col("support"))
    pairs.unionAll(dropped)
  }

  /** Association rules from the pair mine: for every co-occurring part
    * pair, support / confidence(p1→p2) / lift as exact integer ratios
    * (one closing division each, 1e-6-rounded). Lift needs the pair
    * count, both item counts, and the basket universe size — all from
    * ONE distinct (order, part) scan: the pair counts reuse
    * [[basketPairs]] (including its hot-basket valve; the sentinel row
    * is excluded here — a dropped basket contributes to no rule), the
    * item counts are a groupBy over the same scan, and the basket total
    * is a 1-row broadcast. Per-pair cost is two broadcast-sized joins
    * on part grain — never a second pass over the fact table. */
  def basketRules(lineitem: DataFrame, minSupport: Long = 2L): DataFrame = {
    // ONE materialized (order, part, bsz) frame feeds the item counts,
    // the basket total AND the pair mine (identical rows to the plain
    // distinct — bsz is just along for the ride)
    val sized = sizedItems(lineitem)
    val itemCnt = sized.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("icnt"))
    val nBaskets = sized.agg(countDistinct(col("l_orderkey")).as("nb"))
    val pairs = basketPairsFrom(sized, minSupport, 1000)
      .where(col("p1") =!= lit(-1L))
    pairs
      .join(itemCnt.select(col("l_partkey").as("p1"), col("icnt").as("c1")), "p1")
      .join(itemCnt.select(col("l_partkey").as("p2"), col("icnt").as("c2")), "p2")
      .crossJoin(broadcast(nBaskets))
      .select(col("p1"), col("p2"), col("support"),
        round6(col("support").cast("double") / col("nb")).as("supp_ratio"),
        round6(col("support").cast("double") / col("c1")).as("confidence"),
        round6((col("support") * col("nb")).cast("double")
          / (col("c1") * col("c2"))).as("lift"))
  }

  /** ABC / Pareto inventory classification of parts by revenue —
    * "which 20% of the catalog is 80% of the money". Class boundaries
    * are defined at the REVENUE-VALUE grain: a part is class A when the
    * top-down cumulative revenue through its value block is ≤ 80 %
    * of total, B through 95 %, else C — so tied parts always share a
    * class and the result is order-independent (a rank-grain cutoff
    * would split ties by an arbitrary tiebreak). The top-down
    * cumulative comes from [[Cumulative.runningSum]] over the
    * distinct-value table (D(v) = T − S(v) + mass(v)), so no window
    * partition ever holds the part table; comparisons are integer
    * cross-multiplies (100·D ≤ pct·T) — no division anywhere. Output:
    * one row per class with part count, revenue, and exact share. */
  def abcClassification(lineitem: DataFrame): DataFrame = {
    val rev = lineitem.groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("r"))
    // pinned: runningSum + the grand total reference this four times;
    // unpinned, each reference re-scans the fact table
    val vc = rev.groupBy(col("r"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("r") * col("cnt"))
      .withColumn("__g", lit(1))
      .localCheckpoint()
    val scanned = Cumulative.runningSum(vc, Seq("__g"), "r", "mass", "s_asc")
    val tot = vc.agg(sum(col("mass")).as("t"))
    scanned.crossJoin(broadcast(tot))
      .withColumn("d_desc", col("t") - col("s_asc") + col("mass"))
      .withColumn("abc_class",
        when(col("d_desc") * 100 <= col("t") * 80, "A")
          .when(col("d_desc") * 100 <= col("t") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(sum(col("cnt")).as("n_parts"),
        (sum(col("mass")).cast("double") / 100.0).as("revenue"),
        round6(sum(col("mass")).cast("double") / first(col("t"))).as("rev_share"))
  }

  /** RFM customer segmentation card — recency / frequency / monetary,
    * each split at its MEDIAN (`percentile_disc(0.5)` — an actual
    * observed value, engine-identical; interpolated medians differ in
    * last-ulp association) into 8 binary segments 'Rfm'…'RFM' (capital
    * = the good half: recent / frequent / big-spending). The per-customer
    * triple is one orders aggregate; the cutoffs are a 1-row broadcast
    * (the curriculumCard shape) — no global rank window anywhere.
    * Output: ≤8 rows of segment, member count, total and mean spend. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val maxDate = orders.agg(max(col("o_orderdate")).as("d_max"))
    val rfm = orders.crossJoin(broadcast(maxDate))
      .groupBy(col("o_custkey"))
      .agg(min(datediff(col("d_max"), col("o_orderdate"))).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("monetary"))
    val cuts = rfm.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY recency_days)").as("rc"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY frequency)").as("fc"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY monetary)").as("mc"))
    rfm.crossJoin(broadcast(cuts))
      .withColumn("segment", concat(
        when(col("recency_days") <= col("rc"), lit("R")).otherwise(lit("r")),
        when(col("frequency") >= col("fc"), lit("F")).otherwise(lit("f")),
        when(col("monetary") >= col("mc"), lit("M")).otherwise(lit("m"))))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        (sum(col("monetary")).cast("double") / 100.0).as("total_spend"),
        round6(sum(col("monetary")).cast("double") / count(lit(1)) / 100.0)
          .as("mean_spend"))
  }

  /** Cohort LTV triangle — cumulative-revenue-so-far per acquisition
    * cohort at each month offset, the table every payback analysis
    * reads. Cohort = the customer's first order month (epoch-month
    * integer — no calendar string drift); per (cohort, offset):
    * active-customer count, period revenue, and the cohort's running
    * cumulative revenue (offsets are small — the cumsum window runs at
    * cohort×offset grain, bounded metadata, never the fact table). */
  def cohortLtv(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val om = orders.select(col("o_custkey"),
      ((year(col("o_orderdate")) - 1970) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("m"),
      cents(col("o_totalprice")).as("x"))
    val cohort = om.groupBy(col("o_custkey")).agg(min(col("m")).as("cm"))
    val cells = om.join(cohort, "o_custkey")
      .groupBy(col("cm").as("cohort_month"), (col("m") - col("cm")).as("offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("x")).as("rev_c"))
    val w = Window.partitionBy(col("cohort_month")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_rev_c", sum(col("rev_c")).over(w))
      .select(col("cohort_month"), col("offset"), col("n_active"),
        (col("rev_c").cast("double") / 100.0).as("revenue"),
        (col("cum_rev_c").cast("double") / 100.0).as("cum_revenue"))
  }

  /** Reorder-gap distribution — days between a customer's consecutive
    * orders, summarized as one card (count, exact mean, DISCRETE
    * quartiles — actual observed day gaps). Same-day orders gap 0 and
    * count (tie-break by order key — stated). One customer-partitioned
    * lag window at order grain + one bounded aggregate. */
  def reorderGaps(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders.select(col("o_custkey"), col("o_orderkey"),
      expr("unix_micros(o_orderdate) div 86400000000").as("d"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    o.withColumn("gap", col("d") - lag(col("d"), 1).over(w))
      .where(col("gap").isNotNull)
      .agg(count(lit(1)).as("n_gaps"),
        round6(sum(col("gap")).cast("double") / count(lit(1)))
          .as("mean_gap_days"),
        expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT)").as("p25"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT)").as("p50"),
        expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT)").as("p75"))
  }

  /** New-vs-repeat revenue split per month — the acquisition-health
    * companion to [[cohortLtv]]: an order is NEW when it falls in its
    * customer's first epoch-month, REPEAT otherwise; per month both
    * revenues and order counts, all exact cents. One customer-grain
    * first-month aggregate joined back — no window over orders. */
  def newVsRepeat(orders: DataFrame): DataFrame = {
    val om = orders.select(col("o_custkey"),
      ((year(col("o_orderdate")) - 1970) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("m"),
      cents(col("o_totalprice")).as("x"))
    val first = om.groupBy(col("o_custkey")).agg(min(col("m")).as("fm"))
    om.join(first, "o_custkey")
      .groupBy(col("m").as("month"))
      .agg(
        sum(when(col("m") === col("fm"), col("x")).otherwise(0L))
          .cast("double").divide(100.0).as("new_revenue"),
        sum(when(col("m") =!= col("fm"), col("x")).otherwise(0L))
          .cast("double").divide(100.0).as("repeat_revenue"),
        sum(when(col("m") === col("fm"), 1L).otherwise(0L)).as("n_new_orders"),
        sum(when(col("m") =!= col("fm"), 1L).otherwise(0L)).as("n_repeat_orders"))
  }

  /** WEIGHTED median — an aggregate Spark lacks natively (its
    * percentile family weights every row equally): the smallest value
    * v whose cumulative weight reaches half the total (lower weighted
    * median, the SQL-standard-less convention stated rather than
    * guessed), decided by the integer cross-multiply 2·S(v) ≥ W. The
    * cumulative weight runs over the distinct-value grain via the
    * two-level [[Cumulative.runningSum]] scan, so no window partition
    * holds the fact table; the oracle replays the naive per-group
    * window cumsum as the deliberately-opposite formulation. */
  def weightedMedian(lineitem: DataFrame): DataFrame = {
    val vc = lineitem.select(col("l_returnflag").as("flag"),
        cents(col("l_extendedprice")).as("v"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      .groupBy(col("flag"), col("v"))
      .agg(sum(col("w")).as("wc"))
      .localCheckpoint() // four references, one fact scan
    val s = Cumulative.runningSum(vc, Seq("flag"), "v", "wc", "cw")
    val tot = vc.groupBy(col("flag")).agg(sum(col("wc")).as("wt"))
    s.join(broadcast(tot), "flag")
      .where(col("cw") * 2 >= col("wt"))
      .groupBy(col("flag"))
      .agg(min(col("v")).as("mv"), first(col("wt")).as("total_weight"))
      .select(col("flag").as("l_returnflag"),
        (col("mv").cast("double") / 100.0).as("wmedian_price"),
        col("total_weight"))
  }

  /** Tukey-fence outlier census per nation — the robust screen that
    * doesn't need a variance (one wild account would drag a z-score's
    * own yardstick). Quartiles are DISCRETE (`percentile_disc` —
    * actual observed cents, engine-identical), and the 1.5·IQR fences
    * never materialize as fractions: `x < q1 − 1.5·IQR` is compared as
    * the integer cross-multiply `2x < 2q1 − 3(q3−q1)`. One customer
    * aggregate + a ≤|nations|-row quartile broadcast. */
  def tukeyOutliers(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"))
    val quarts = spend.groupBy(col("n_name"))
      .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)")
        .cast("long").as("q1"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("q3"))
    spend.join(broadcast(quarts), "n_name")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(when(col("x") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("x") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3, 1L)
          .otherwise(0L)).as("n_high"),
        first(col("q1")).as("q1"), first(col("q3")).as("q3"))
  }

  /** Benford first-digit audit of order totals — the classic
    * books-cooked screen (real transactional amounts lean log-uniform;
    * fabricated ones don't). The first significant digit is taken from
    * the DECIMAL STRING of the exact cents value (no log10 — libm
    * rounding differs across engines; string heads don't), counted per
    * digit with the observed frequency as one closing division against
    * the expected Benford mass for reference. Map-only scan + 9-row
    * aggregate. */
  def benfordCard(orders: DataFrame): DataFrame = {
    val nTot = orders.agg(count(lit(1)).as("n"))
    orders
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(nTot))
      .select(col("digit"), col("n_orders"),
        round6(col("n_orders").cast("double") / col("n")).as("observed"))
  }

  /** Lorenz-curve decile card over per-customer spend — the
    * distribution view [[giniSpend]] summarizes to one number. Spend
    * ranks come from the distinct-value running sum (for value v with
    * count c, its members hold ranks S(v)−c+1..S(v)), so the part that
    * scales with customers is the same two-level scan; each value block
    * is then intersected with the 10 fixed rank ranges (≤10 output
    * rows per distinct value — bounded fan-out) and decile mass is
    * block-overlap × value. Tied customers straddling a boundary split
    * deterministically because every rank in the tie block carries the
    * same value. Output: 10 rows of member count, spend, and exact
    * cumulative share. */
  def lorenzDeciles(orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
      .localCheckpoint() // referenced by the value counts AND the totals
    val vc = spend.groupBy(col("x"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__g", lit(1))
    val scanned = Cumulative.runningSum(vc, Seq("__g"), "x", "cnt", "s")
    val tot = spend.agg(count(lit(1)).as("n"),
      sum(col("x")).as("t"))
    val deciles = orders.sparkSession.range(1, 11)
      .select(col("id").cast("int").as("decile"))
    val blocks = scanned.crossJoin(broadcast(tot))
      .withColumn("lo", col("s") - col("cnt") + 1)
      .crossJoin(broadcast(deciles))
      // decile d covers ranks floor((d−1)·n/10)+1 .. floor(d·n/10)
      .withColumn("dlo", expr("((decile - 1) * n) div 10") + 1)
      .withColumn("dhi", expr("(decile * n) div 10"))
      .withColumn("overlap",
        greatest(lit(0L), least(col("s"), col("dhi"))
          - greatest(col("lo"), col("dlo")) + 1))
      .where(col("overlap") > 0)
    blocks.groupBy(col("decile"))
      .agg(sum(col("overlap")).as("n_cust"),
        (sum(col("overlap") * col("x")).cast("double") / 100.0).as("spend"),
        round6(sum(col("overlap") * col("x")).cast("double")
          / first(col("t"))).as("share"))
  }

  /** Maximum drawdown of each customer's order-value series — the
    * "largest drop from a previous peak" pattern card (the classic
    * running-extrema window shape, stated on spend rather than prices).
    * Values are exact integer cents; the running peak is a per-customer
    * ROWS window over the (date µs, order key) total order, so ties and
    * replays are deterministic, and the drawdown maximum is an integer
    * aggregate — the only doubles are the /100 display divisions.
    * Window partitions by customer: bounded by a customer's order
    * count, never the table. */
  def maxDrawdown(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("odu"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(o_orderdate)").as("odu"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("peak", max(col("cents")).over(w))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        (max(col("cents")).cast("double") / 100.0).as("peak_value"),
        (max(col("peak") - col("cents")).cast("double") / 100.0)
          .as("max_drawdown"))
  }

  /** Chi-square independence card for order status × priority — the
    * "are these two categoricals related" screen run before trusting a
    * stratified sample or a per-segment model. One fact-collapsing
    * aggregate produces the ≤|status|·|priority| contingency cells;
    * margins come from two bounded re-aggregates plus the 1-row grand
    * total, broadcast back.
    *
    * Cross-engine exactness (the gini convention): each cell's
    * contribution (O−E)²/E is algebraically (O·N − R·C)² / (R·C·N) —
    * numerator and denominator are Decimal(38,0) integer products
    * (HUGEINT in the oracle; ~1e38 headroom, ample at any realistic
    * order count) and the contribution is ONE division of
    * exactly-agreed inputs. `exp_micro` is the expected count
    * floor-scaled to 1e-6 (positive operands, so floor ≡ trunc in both
    * engines). The card emits per-cell rows — summing contributions is
    * the consumer's one float add, kept out of the cross-engine
    * compare. */
  def chiSquareCard(orders: DataFrame): DataFrame = {
    val cells = orders
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint() // three margin scans over ≤|r|·|c| rows
    val rTot = cells.groupBy(col("o_orderstatus"))
      .agg(sum(col("obs")).as("r_tot"))
    val cTot = cells.groupBy(col("o_orderpriority"))
      .agg(sum(col("obs")).as("c_tot"))
    val nTot = cells.agg(sum(col("obs")).as("n_tot"))
    cells
      .join(broadcast(rTot), "o_orderstatus")
      .join(broadcast(cTot), "o_orderpriority")
      .crossJoin(broadcast(nTot))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("obs"),
        expr("CAST((CAST(r_tot AS DECIMAL(38,0)) * c_tot * 1000000)" +
          " div n_tot AS BIGINT)").as("exp_micro"),
        expr("CAST((CAST(obs AS DECIMAL(38,0)) * n_tot" +
          "   - CAST(r_tot AS DECIMAL(38,0)) * c_tot)" +
          " * (CAST(obs AS DECIMAL(38,0)) * n_tot" +
          "   - CAST(r_tot AS DECIMAL(38,0)) * c_tot) AS DOUBLE)" +
          " / CAST(CAST(r_tot AS DECIMAL(38,0)) * c_tot * n_tot AS DOUBLE)")
          .as("contrib"))
  }

  /** Kaplan–Meier survival curve over customer REORDER gaps — the
    * churn/survival read ("what fraction of reorder intervals survive
    * past t days?"): every consecutive order pair contributes an
    * EVENT duration (the gap), every customer's last order contributes
    * a CENSORED duration (still alive at the observation horizon —
    * dropping these, the classic mistake, biases survival low). At
    * each distinct event time t: S(t) = Π_{u≤t} (1 − d_u/n_u) with
    * d = events at u, n = at-risk (duration ≥ u).
    *
    * Determinism recipe: risk sets are pure integer cumulations on
    * the audited two-level scan; the product is accumulated as
    * FIXED-POINT log-survival (each ln(1−d/n) floored to 1e-12 before
    * the sum — the order-free-long-sum rule; a double sum's bucket
    * totals would be partition-order-dependent), exp'd once at the
    * end. ln/exp cross-engine parity follows the t_tfidf precedent
    * (log is matching-in-practice; the 1e-12 floor and 6-decimal
    * output absorb ulp).
    *
    * Scale shape: one customer-partitioned lead() window over orders,
    * then everything lives at DAY grain (calendar-bounded metadata);
    * the horizon and duration-total are 1-row broadcasts (the q_rfm
    * class). */
  def kaplanMeier(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.round6
    val dayUs = 86400000000L
    val o = orders.select(col("o_custkey"),
      unix_micros(col("o_orderdate")).as("du"), col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("du"), col("o_orderkey"))
    val horizon = o.agg(max(col("du")).as("hz"))
    val dur = o.withColumn("nxt", lead(col("du"), 1).over(w))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("nxt").isNotNull, expr(s"(nxt - du) div $dayUs"))
          .otherwise(expr(s"(hz - du) div $dayUs")).as("t"),
        when(col("nxt").isNotNull, 1L).otherwise(0L).as("ev"))
    val byT = dur.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"),
        sum(lit(1L) - col("ev")).as("cens"))
      .withColumn("dc", col("d") + col("cens"))
      .withColumn("__g", lit(1))
      .localCheckpoint() // two cumulative scans + the total read it
    val total = byT.agg(sum(col("dc")).as("n_total"))
    // inclusive cumulation of departures, then back out the own row:
    // n_t = total − (everything that left strictly before t)
    val risk = Cumulative.runningSum(byT, Seq("__g"), "t", "dc", "cum_dc")
      .crossJoin(broadcast(total))
      .withColumn("n", col("n_total") - col("cum_dc") + col("dc"))
    // a step where EVERYONE at risk dies (d = n) sends the curve to an
    // exact 0 — flagged and cumulated separately rather than letting
    // ln(0) = −∞ poison the fixed-point sum differently per engine
    val events = risk.where(col("d") > 0)
      .withColumn("z", when(col("d") === col("n"), 1L).otherwise(0L))
      .withColumn("lnf",
        when(col("d") === col("n"), 0L).otherwise(
          floor(log(lit(1.0) - col("d").cast("double") / col("n").cast("double"))
            * 1.0e12 + 0.5).cast("long")))
      .select(col("t"), col("d"), col("n"), col("lnf"), col("z"))
      .withColumn("__g", lit(1))
      .localCheckpoint()
    Cumulative.runningSums(events, Seq("__g"), "t",
        Seq("lnf" -> "cum_ln", "z" -> "cum_z"))
      .select(col("t").as("t_days"), col("n").as("n_risk"),
        col("d").as("n_events"),
        when(col("cum_z") > 0, 0.0).otherwise(
          round6(exp(col("cum_ln").cast("double") / 1.0e12))).as("survival"))
  }

  /** One-way ANOVA card across ALL event types — the k-group
    * completion of [[welchTTest]] (is ANY channel different, before
    * asking which pair): F = (SSB/(k−1)) / (SSW/(N−k)) with η² effect
    * size. Exactness: per-group moments are integer-exact; the one
    * cross-group rational Σ S_g²/n_g is accumulated as MICRO-UNIT
    * LONGS (each group's S²/n floored to 1e-6 before the sum — the
    * QualityModel gradient trick), so the k-term sum is order-free;
    * SSB/SSW/F/η² are then fixed double shapes over exact components.
    * Degenerate inputs (k<2, N≤k, zero within-variance) report NULL.
    * One moments aggregate + a 1-row combine — nothing past |types|
    * rows ever exists. */
  def anovaCard(events: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val v = expr("CAST(round(value * 100) AS BIGINT)")
    val g = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"),
        sum(v.cast("decimal(19,0)") * v).as("q"))
      // S_g²/n_g in 1e-6 fixed point: decimal-exact square, ONE double
      // division, floored — summable as longs across groups
      .select(col("n"), col("q"),
        col("s").as("sg"),
        floor((col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
          .cast("double") / col("n").cast("double") * 1000000.0 + 0.5)
          .cast("long").as("t6"))
    val agg = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("sg")).as("st"), sum(col("q")).as("qt"), sum(col("t6")).as("t6"))
    val between = col("t6").cast("double") / 1000000.0 -
      (col("st").cast("decimal(38,0)") * col("st").cast("decimal(38,0)"))
        .cast("double") / col("nn").cast("double")
    val within = col("qt").cast("double") -
      col("t6").cast("double") / 1000000.0
    val degenerate = col("k") < 2 || col("nn") <= col("k") || within === 0.0
    agg.select(
      col("k"), col("nn").as("n"),
      round6(between).as("ss_between"),
      round6(within).as("ss_within"),
      when(degenerate, lit(null)).otherwise(round6(
        (between / (col("k") - 1).cast("double")) /
          (within / (col("nn") - col("k")).cast("double")))).as("f_stat"),
      when(degenerate, lit(null)).otherwise(round6(
        between / (between + within))).as("eta_sq"))
  }

  /** Welch two-sample t card for every pair of event types — the A/B
    * significance primitive (does channel a's value differ from b's,
    * without assuming equal variances?). Exactness recipe (the q_chi2 /
    * e_acf class): per-group moments are INTEGER-EXACT — n, Σv (cents,
    * long), Σv² (Decimal(38,0): v² ≤ 1e14 × 1e6 rows ≈ 1e20 of the 38
    * digits) — the variance numerator n·Q − S² stays decimal-exact, and
    * each of mean / s² / t / df is a fixed SHAPE of double ops both
    * engines replay identically (one division for s², sqrt for t,
    * Welch–Satterthwaite for df). n < 2 on either side, or two
    * zero-variance groups, have no t to report: stated NULL, never an
    * ANSI divide error or an Infinity in the hash.
    *
    * Scale shape: one map-side-combinable moments aggregate collapses
    * the fact table to |types| rows; the pair frame is a bounded
    * self-cross of that card (the q_kmv_join class of 1-row-aggregate
    * nested-loop joins — ≤|types|² metadata rows, never the corpus). */
  def welchTTest(events: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val v = expr("CAST(round(value * 100) AS BIGINT)")
    val m = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"),
        sum(v.cast("decimal(19,0)") * v).as("q"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
      col("s").as("sa"), col("q").as("qa"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("s").as("sb"), col("q").as("qb"))
    def mean(s: Column, n: Column): Column =
      s.cast("double") / n.cast("double")
    // sample variance in cents²: (n·Q − S²) / (n·(n−1)), numerator
    // decimal-exact, ONE double division
    def s2(n: Column, s: Column, q: Column): Column =
      (n.cast("decimal(38,0)") * q
        - s.cast("decimal(38,0)") * s.cast("decimal(38,0)")).cast("double") /
        (n * (n - 1)).cast("double")
    val va = s2(col("na"), col("sa"), col("qa"))
    val vb = s2(col("nb"), col("sb"), col("qb"))
    val sea = va / col("na").cast("double")
    val seb = vb / col("nb").cast("double")
    val se = sea + seb
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round6(mean(col("sa"), col("na")) / 100.0).as("mean_a"),
        round6(mean(col("sb"), col("nb")) / 100.0).as("mean_b"),
        when(col("na") < 2 || col("nb") < 2 || se === 0.0, lit(null))
          .otherwise(round6(
            (mean(col("sa"), col("na")) - mean(col("sb"), col("nb")))
              / sqrt(se))).as("t_stat"),
        when(col("na") < 2 || col("nb") < 2 || se === 0.0, lit(null))
          .otherwise(round6(se * se /
            (sea * sea / (col("na") - 1).cast("double")
              + seb * seb / (col("nb") - 1).cast("double")))).as("df"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between the click and the
    * view values — the NONPARAMETRIC sibling of [[welchTTest]] (rank-based,
    * so a heavy-tailed or ordinal metric needs no normality
    * assumption). Tie-aware: every computation runs at DISTINCT-VALUE
    * grain with midranks, the textbook tie correction
    * T = Σ(t³−t) enters the variance, and the normal-approximation z
    * uses μ = n_a·n_b/2, σ² = (n_a·n_b/12)·((n+1) − T/(n(n−1))).
    *
    * Exactness (the cross-engine contract): ranks are carried DOUBLED
    * (`rank2` = twice the midrank = 2·cum − cnt + 1 — always an
    * integer), so the rank sum R_a, U_a (as 2U_a = 2R_a − n_a(n_a+1))
    * and the tie term are all integer-exact decimals; z is then one
    * fixed double shape over exact components, floored to 1e-6.
    *
    * Scale shape: one filter+aggregate to the distinct-cents-value
    * grain, [[Cumulative.runningSum]]'s two-level bucket-monotone scan
    * for the value-ordered prefix (near-unique values never serialize
    * into one window task), one 1-row combine. Nothing past the
    * distinct-value table ever exists; degenerate inputs (an empty
    * group, or every value tied → σ² = 0) report NULL rather than
    * dividing by zero. */
  def mannWhitneyU(events: DataFrame): DataFrame = {
    val (typeA, typeB) = ("click", "view")
    val v = expr("CAST(round(value * 100) AS BIGINT)")
    val vc = events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(v.as("v"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("__g", lit(1))
    val ranked = Cumulative.runningSum(vc, Seq("__g"), "v", "cnt", "cum")
      .withColumn("rank2", lit(2L) * col("cum") - col("cnt") + 1L)
    val m = ranked.agg(
      coalesce(sum(col("ca")), lit(0L)).as("na"),
      coalesce(sum(col("cb")), lit(0L)).as("nb"),
      coalesce(sum(col("ca").cast("decimal(38,0)") * col("rank2")),
        lit(0).cast("decimal(38,0)")).as("ra2"),
      coalesce(sum(col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt")
        - col("cnt")), lit(0).cast("decimal(38,0)")).as("tsum"))
    val nn = col("na") + col("nb")
    // 2·U_a and 2·μ, both exact integers (halving waits for the end)
    val ua2 = col("ra2") - col("na").cast("decimal(38,0)") * (col("na") + 1L)
    val mu2 = col("na").cast("decimal(38,0)") * col("nb")
    val sigma2 = col("na").cast("double") * col("nb").cast("double") / 12.0 *
      ((nn + 1L).cast("double") - col("tsum").cast("double") /
        (nn.cast("double") * (nn - 1L).cast("double")))
    val empty = col("na") < 1L || col("nb") < 1L
    m.select(
      lit(typeA).as("type_a"), lit(typeB).as("type_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      when(empty, lit(null))
        .otherwise(ua2.cast("double") / 2.0).as("u_stat"),
      when(empty || sigma2 <= 0.0, lit(null))
        .otherwise(round6((ua2 - mu2).cast("double")
          / (lit(2.0) * sqrt(sigma2)))).as("z_score"))
  }
}
