package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. MapReduce-core re-expressions
    "q_word_count" -> ((s, d) => MapReduceOps.wordCount(Tables.documents(s, d))),
    "q_avg_by_key" -> ((s, d) =>
      MapReduceOps.avgByKey(Tables.part(s, d), "p_brand", "p_retailprice")),
    "q_grep" -> ((s, d) => MapReduceOps.grep(Tables.documents(s, d), "data")),
    "q_sort" -> ((s, d) => MapReduceOps.sortedTopN(Tables.lineitem(s, d), 1000)),
    "q_top_k" -> ((s, d) => MapReduceOps.topKWords(Tables.documents(s, d), 20)),
    "q_distinct" -> ((s, d) => MapReduceOps.distinctKeys(Tables.lineitem(s, d))),
    // generic pluggable-job API (reference plugin ports), typed Dataset path
    "mr_word_count" -> ((s, d) => {
      import s.implicits._
      MapReduceJob.wordCountJob(Tables.documents(s, d).select("text").as[String])
        .toDF("word", "cnt")
    }),
    "mr_avg_by_key" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{concat_ws, col}
      val lines = Tables.part(s, d)
        .select(concat_ws(",", col("p_brand"), col("p_retailprice")).as("line"))
        .as[String]
      MapReduceJob.avgByKeyJob(lines).toDF("p_brand", "avg_val")
    }),
    // B. Analytics
    "q1_agg" -> ((s, d) => Analytics.q1(Tables.lineitem(s, d))),
    "q3_join" -> ((s, d) => Analytics.q3(s, d)),
    "q5_join" -> ((s, d) => Analytics.q5(s, d)),
    "q_window" -> ((s, d) => Analytics.topOrdersPerCustomer(Tables.orders(s, d), 3)),
    "q_rollup" -> ((s, d) => Analytics.rollupSummary(Tables.lineitem(s, d))),
    "q_semi_anti" -> ((s, d) =>
      Analytics.customersByOrderPresence(Tables.customer(s, d), Tables.orders(s, d))),
    // Bloom semi-join reduction: lineitem prefiltered MAP-SIDE by the
    // urgent-orders key bitmap before the exact semi join re-checks —
    // result equals the plain semi join at ANY filter size, so the
    // oracle is the plain IN
    "q_bloom_semi" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.functions.Exact.moneySum
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
      BloomJoin.semiJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice")).as("sum_price"))
    }),
    // Bloom BYPASS anti join: keys the filter rejects are DEFINITELY
    // absent and skip the shuffle; only might-match rows pay the exact
    // anti join — customers with no 1997 orders
    "q_bloom_anti" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o97 = Tables.orders(s, d).where(
        expr("unix_micros(o_orderdate) >= 852076800000000") &&
        expr("unix_micros(o_orderdate) < 883612800000000"))
        .select(col("o_custkey"))
      BloomJoin.antiJoin(Tables.customer(s, d), "c_custkey", o97, "o_custkey")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    }),
    "q_having" -> ((s, d) => Analytics.bigCustomers(Tables.orders(s, d), 12)),
    "q_cube" -> ((s, d) => Analytics.cubeSummary(Tables.lineitem(s, d))),
    "q_setops" -> ((s, d) => Analytics.customerYearSets(Tables.orders(s, d))),
    "q_distinct_count" -> ((s, d) => Analytics.distinctCounts(Tables.lineitem(s, d))),
    "q_median" -> ((s, d) => Analytics.medianByStatus(Tables.orders(s, d))),
    "q_quantiles" -> ((s, d) => Analytics.quantileProfile(Tables.orders(s, d))),
    "q_ntile" -> ((s, d) => Analytics.orderQuartiles(Tables.orders(s, d))),
    "q_grouping_sets" -> ((s, d) => Analytics.marginalSummary(Tables.lineitem(s, d))),
    "q_outer_join" -> ((s, d) =>
      Analytics.nationCoverage(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_histogram" -> ((s, d) => Analytics.priceHistogram(Tables.orders(s, d))),
    "q_string_agg" -> ((s, d) => Analytics.statusRollcall(Tables.lineitem(s, d))),
    "q_sketch" -> ((s, d) => Analytics.sketchSummary(Tables.lineitem(s, d))),
    "q_kmv" -> ((s, d) => Analytics.kmvSummary(Tables.lineitem(s, d))),
    // count-min frequency sketch: d x w counters regardless of input,
    // est >= exact always (the overcount column is the proof)
    "q_cms" -> ((s, d) => Analytics.cmsFrequency(Tables.lineitem(s, d))),
    "q_kmv_join" -> ((s, d) => Analytics.kmvJoinEstimate(
      Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey")),
    "q_qsketch" -> ((s, d) => Analytics.quantileSketch(Tables.lineitem(s, d))),
    "q_argmin" -> ((s, d) => Analytics.cheapestPartPerBrand(Tables.part(s, d))),
    "q17_small_qty" -> ((s, d) => Analytics.smallQuantityOrders(Tables.lineitem(s, d))),
    "q6_forecast" -> ((s, d) => Analytics.forecastRevenue(Tables.lineitem(s, d))),
    "q14_promo" -> ((s, d) =>
      Analytics.promoRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q10_returns" -> ((s, d) => Analytics.returnedTopCustomers(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),
    "q12_late_priority" -> ((s, d) =>
      Analytics.latePriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_pivot" -> ((s, d) => Analytics.eventTypePivot(Tables.events(s, d))),
    "q_unpivot" -> ((s, d) => Analytics.eventTypeUnpivot(Tables.events(s, d))),
    "q_running_total" -> ((s, d) => Analytics.runningRevenue(Tables.orders(s, d))),
    "q_moving_avg" -> ((s, d) => Analytics.movingAvgDailyRevenue(Tables.orders(s, d))),
    "q4_exists" -> ((s, d) =>
      Analytics.latePriorityCounts(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q13_custdist" -> ((s, d) =>
      Analytics.custDist(Tables.customer(s, d), Tables.orders(s, d))),
    "q22_idle" -> ((s, d) =>
      Analytics.idleRichCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "q7_volume" -> ((s, d) => Analytics.q7Volume(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    "q19_disc_revenue" -> ((s, d) => Analytics.q19DiscRevenue(s, d)),
    "q21_waiting" -> ((s, d) => Analytics.q21WaitingSuppliers(s, d)),
    "q16_partsupp" -> ((s, d) => Analytics.q16SupplierCounts(s, d)),
    "q2_min_cost" -> ((s, d) => Analytics.q2MinCostSupplier(s, d)),
    "q11_important" -> ((s, d) => Analytics.q11ImportantStock(s, d)),
    "q20_promo" -> ((s, d) => Analytics.q20PotentialPromo(s, d)),
    "q_mode" -> ((s, d) => Analytics.modeByGroup(Tables.orders(s, d))),
    "q_cume_dist" -> ((s, d) => Analytics.cumeDistByStatus(Tables.orders(s, d))),
    "q9_profit" -> ((s, d) => Analytics.q9ProfitByNation(s, d)),
    "q_regression" -> ((s, d) => Analytics.regressionByFlag(Tables.lineitem(s, d))),
    "q_corr" -> ((s, d) => Analytics.corrQtyPrice(Tables.lineitem(s, d))),
    "q_chi2" -> ((s, d) => Analytics.chiSquareCard(Tables.orders(s, d))),
    "q_drawdown" -> ((s, d) => Analytics.maxDrawdown(Tables.orders(s, d))),
    "q_bool_bit" -> ((s, d) => Analytics.boolBitProfile(Tables.orders(s, d))),
    "q_array_ops" -> ((s, d) => Analytics.orderBaskets(Tables.lineitem(s, d))),
    "g_pagerank" -> ((s, d) => Graph.nationPagerank(s, d)),
    "g_triangles" -> ((s, d) => Graph.nationTriangles(s, d)),
    "g_degree" -> ((s, d) => Graph.nationDegrees(s, d)),
    "g_bfs" -> ((s, d) => Graph.nationShortestPaths(s, d)),
    "g_jaccard" -> ((s, d) => Graph.nationJaccard(s, d)),
    "g_kcore" -> ((s, d) => Graph.nationKCore(s, d)),
    "g_cc" -> ((s, d) => Graph.nationComponents(s, d)),
    "g_lpa" -> ((s, d) => Graph.nationCommunities(s, d)),
    // harmonic centrality from converged all-pairs hops over the
    // same top-3 backbone g_bfs walks (integer micro-unit 1/d sums)
    "g_harmonic" -> ((s, d) => Graph.nationHarmonic(s, d)),
    "q_yoy" -> ((s, d) => Analytics.yoyRevenue(s, d)),
    "q_range_frame" -> ((s, d) => Analytics.trailingSpend(Tables.orders(s, d))),
    "q_window_funcs" -> ((s, d) => Analytics.windowFunctionProfile(Tables.orders(s, d))),
    "s_classify" -> ((s, d) => Similarity.centroidClassify(Tables.embeddings(s, d))),
    "s_kmeans" -> ((s, d) => Similarity.kmeansCentroids(Tables.embeddings(s, d))),
    // embedding-collapse check: the top (uncentered) principal
    // direction by fixed-point power iteration, loadings + lambda
    // hash-matched against the CTE-per-pass DuckDB replay
    "s_pca" -> ((s, d) => Similarity.pcaTopComponent(Tables.embeddings(s, d))),
    // top-k principal subspace via deflation: each converged direction
    // is projected out MAP-ONLY (x − (x·v)v) and the next component
    // power-iterates the deflated plan; every pass and every deflation
    // replays CTE-for-CTE in DuckDB, so all k·d loadings hash-match
    "s_pca_k" -> ((s, d) =>
      Similarity.pcaComponents(Tables.embeddings(s, d), k = 4)),
    // the loadings card's read: per-vector coordinates on the top-k
    // subspace (the corpus scatter / collapse inspection) — one
    // map-only scan, directions ride as literals, every coordinate
    // hash-matched against the shared solve CTEs
    "s_pca_project" -> ((s, d) =>
      Similarity.pcaProject(Tables.embeddings(s, d), k = 4)),
    // bounded-buffer top-k aggregate: O(groups·k) shuffle, vs the window
    // route's O(rows) — exploded to rows so DuckDB can verify the values
    "q_topk_agg" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, explode}
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAggregate.topk(col("o_totalprice"), 3).as("top"))
        .select(col("o_custkey"), explode(col("top")).as("price"))
    }),
    // C. Events
    "e_tumbling" -> ((s, d) => Events.tumblingHourly(Tables.events(s, d))),
    // the watermarked tumbling-window aggregation as a real checkpointed run
    "e_tumbling_stream" -> ((s, d) => streaming.EventStream.tumblingCountsReplay(s, d)),
    // CHAINED streaming jobs: windowed-count stream → committed sink →
    // second stream ranking each finalized hour's top-3 in state
    "e_topk_stream" -> ((s, d) => streaming.EventStream.topHourlyReplay(s, d)),
    "e_sliding" -> ((s, d) => Events.slidingCounts(Tables.events(s, d))),
    "e_sliding_distinct" -> ((s, d) => Events.slidingDistinctUsers(Tables.events(s, d))),
    // the watermarked sliding-window aggregation as a real checkpointed run
    "e_sliding_stream" -> ((s, d) => streaming.EventStream.slidingCountsReplay(s, d)),
    "e_sessionize" -> ((s, d) => Events.sessionize(Tables.events(s, d))),
    // the stateful streaming sessionizer as a real checkpointed run
    "e_session_stream" -> ((s, d) => streaming.EventStream.sessionizeReplay(s, d)),
    // the CMS sketch maintained AS a streaming MV: per-microbatch
    // d x w counter deltas folded by refreshAggMv == the batch sketch
    "e_cms_stream" ->
      ((s, d) => streaming.EventStream.cmsMaintenanceReplay(s, d)),
    // the watermarked stream-stream join as a real checkpointed run
    "e_ssjoin_stream" -> ((s, d) => streaming.EventStream.purchaseViewJoinReplay(s, d)),
    "e_top_sessions" -> ((s, d) => Events.topSessions(Tables.events(s, d))),
    "e_session_builtin" -> ((s, d) => Events.sessionizeBuiltin(Tables.events(s, d))),
    "e_resample" -> ((s, d) => Events.resampleHourly(Tables.events(s, d))),
    "e_lead_lag" -> ((s, d) => Events.interEventGaps(Tables.events(s, d))),
    "e_user_stats" -> ((s, d) => Events.userStats(Tables.events(s, d))),
    "e_asof" -> ((s, d) => AsOfJoin.purchaseAttribution(Tables.events(s, d))),
    // a REAL streaming run (file source → watermarked flatMapGroupsWithState
    // → checkpointed parquet sink), read back for the batch oracle compare
    "e_asof_stream" -> ((s, d) => streaming.EventStream.purchaseAttributionReplay(s, d)),
    "e_asof_tol" -> ((s, d) => AsOfJoin.purchaseAttributionTol(Tables.events(s, d))),
    "e_asof_fwd" -> ((s, d) => AsOfJoin.viewNextPurchase(Tables.events(s, d))),
    "e_range_join" -> ((s, d) => Events.purchaseViewsWithin(Tables.events(s, d))),
    "e_json" -> ((s, d) => Events.propsHistogram(Tables.events(s, d))),
    "e_interval_join" -> ((s, d) => Events.maintenanceWindowCounts(Tables.events(s, d))),
    "e_funnel" -> ((s, d) => Events.funnel(Tables.events(s, d))),
    // path mining: which event-type orders actually happen (funnel
    // checks ONE hypothesized order; this surfaces the real ones)
    "e_paths" -> ((s, d) => Events.topPaths(Tables.events(s, d))),
    "e_retention" -> ((s, d) => Events.retention(Tables.events(s, d))),
    "e_anomaly" -> ((s, d) => Events.anomalies(Tables.events(s, d))),
    "e_dow_hour" -> ((s, d) => Events.dowHourHeatmap(Tables.events(s, d))),
    "e_ewma" -> ((s, d) => Events.ewmaDecayedSum(Tables.events(s, d))),
    "e_gap_fill" -> ((s, d) => Events.gapFillForward(Tables.events(s, d))),
    "e_markov" -> ((s, d) => Events.transitionMatrix(Tables.events(s, d))),
    "e_rolling_median" -> ((s, d) => Events.rollingMedian(Tables.events(s, d))),
    "e_mad_outlier" -> ((s, d) => Events.madOutliers(Tables.events(s, d))),
    "e_late_audit" -> ((s, d) => Events.latenessAudit(Tables.events(s, d))),
    "e_trending" -> ((s, d) => Events.trending(Tables.events(s, d))),
    // heartbeat-gap / SLA census per event type
    "e_gap_card" -> ((s, d) => Events.gapCard(Tables.events(s, d))),
    // CDC apply, latest-wins by sequence: every 10th doc deleted, every
    // 10th+1 updated TWICE (seq 2 must win), everything else unchanged
    "fs_cdc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val del = base.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          lit(1L).as("seq"), lit("d").as("op"))
      val up1 = base.where(col("doc_id") % 10 === 1)
        .select(col("doc_id"), col("source"), (col("n_chars") + 5000L).as("n_chars"),
          lit(1L).as("seq"), lit("u").as("op"))
      val up2 = base.where(col("doc_id") % 10 === 1)
        .select(col("doc_id"), col("source"), (col("n_chars") + 9000L).as("n_chars"),
          lit(2L).as("seq"), lit("u").as("op"))
      graft.sources.Catalog.applyCdc(base,
        del.unionAll(up1).unionAll(up2), "doc_id", "seq", "op")
    }),
    // the same change-log read as TYPE-2 history: every version with
    // its validity interval, tombstones close history without becoming
    // versions (keys ending 1: v1 closed by v2, v2 current; keys
    // ending 6: v1 closed by the delete, no current row)
    "fs_scd2" -> ((s, d) => graft.sources.Catalog.scd2History(
      scd2DemoChanges(s, d), "doc_id", "seq", "op")),
    // the time-travel read the history exists to answer: each key's
    // version valid AT seq 1 — one pushed-down filter, no window
    "fs_scd2_asof" -> ((s, d) => {
      import org.apache.spark.sql.functions.lit
      graft.sources.Catalog.scd2AsOf(
        graft.sources.Catalog.scd2History(
          scd2DemoChanges(s, d), "doc_id", "seq", "op"), lit(1L))
    }),
    // leakage-safe split from the EXACT n-gram Jaccard pair mine, so the
    // mirror to the oracle's exact-pair recursive closure is structural
    // rather than resting on 100% LSH recall at these params (that
    // equality is still spec-asserted — PipelineSpec "minhashLsh agrees
    // with exact ngramJaccard" — and at corpus scale leakSafeSplit takes
    // the LSH mine instead, same pairs by that spec; d_dedup_eval now
    // also MEASURES that equality at the gate every round: fn/fp move
    // off 0 and fail the oracle compare if the property ever breaks)
    "p_leak_split" -> ((s, d) => Sampling.leakSafeSplit(Tables.documents(s, d),
      Dedup.ngramJaccard(Tables.documents(s, d), 3, 0.5))),
    "q_gini" -> ((s, d) => Analytics.giniSpend(s, d)),
    "q_basket_pairs" -> ((s, d) => Analytics.basketPairs(Tables.lineitem(s, d))),
    "q_integrity" -> ((s, d) => Analytics.integrityAudit(s, d)),
    // drift monitor: src0's length distribution vs the rest of the corpus
    "d_drift_ks" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextAnalysis.driftKs(docs.where(col("source") === "src0"),
        docs.where(col("source") =!= "src0"), "n_chars")
    }),
    // streaming exactly-once dedup as a real checkpointed run
    "e_dedup_stream" -> ((s, d) => streaming.EventStream.dedupKeysReplay(s, d)),
    // D. LLM-training-data pipeline
    "d_dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "d_dedup_ngram" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d), 3, 0.5)),
    "d_dedup_sweep" -> ((s, d) => Dedup.dedupSweep(Tables.documents(s, d))),
    "d_redundancy" -> ((s, d) => Dedup.redundancy(Tables.documents(s, d))),
    "d_dedup_eval" -> ((s, d) => Dedup.dedupEval(
      Dedup.minhashLsh(Tables.documents(s, d), 3, 64, 16, 0.5)
        .select("id_a", "id_b"),
      Dedup.ngramJaccard(Tables.documents(s, d), 3, 0.5)
        .select("id_a", "id_b"))),
    "d_containment" -> ((s, d) => Dedup.containmentPairs(Tables.documents(s, d), 3, 0.6)),
    "d_dedup_minhash" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d), 3, 64, 16, 0.5)),
    "d_dedup_simhash" -> ((s, d) => Dedup.simhashNearDup(Tables.documents(s, d), 3)),
    "d_dedup_fuzzy" -> ((s, d) => Dedup.fuzzyDedup(Tables.documents(s, d))),
    "d_dedup_incr" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainst(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),
    // ROUTED entries: the auto-ladder entry points, not the raw
    // quadratic baselines — at driver scale the probe takes the exact
    // arm, so the oracles are the existing exact mirrors; past
    // exactMaxRows the same calls walk the LSH/capped ladders instead
    // (spec-pinned), which is what retires "the O(n²) form is the
    // reachable default"
    "d_dedup_embed" -> ((s, d) => Dedup.embeddingDedup(Tables.embeddings(s, d), 0.4)),
    "d_dedup_auto" -> ((s, d) => Dedup.nearDupAuto(Tables.documents(s, d), 3, 0.5)),
    "d_containment_auto" -> ((s, d) => Dedup.containmentAuto(Tables.documents(s, d), 3, 0.6)),
    "d_boilerplate" -> ((s, d) => Dedup.boilerplate(Tables.documents(s, d), 3, 3)),
    "d_dedup_semantic" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d), 0.4)),
    "d_dedup_pipeline" -> ((s, d) => Dedup.nearDupPipeline(Tables.documents(s, d))),
    // components/sizes ride the LSH pair miner (the production compose);
    // the oracle stays the recursive CTE over EXACT pairs — equal because
    // verified LSH candidates reproduce the exact pair set on this corpus
    // (spec-asserted), and LSH pairs are now 40% cheaper to mine
    "d_components" -> ((s, d) =>
      Dedup.connectedComponents(Dedup.minhashLsh(Tables.documents(s, d), 3, 64, 16, 0.5))),
    "d_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizes(Dedup.minhashLsh(Tables.documents(s, d), 3, 64, 16, 0.5))),
    // the full corpus-prep composition end-to-end: signals → quality/lang
    // filter → exact dedup → LSH near-dup → transitive resolution →
    // decontamination → split
    "d_corpus_prep" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val res = CorpusPipeline.prepare(
        docs.where(col("doc_id") >= 20), Some(docs.where(col("doc_id") < 20)),
        CorpusPipeline.Config(minQuality = 0.2))
      res.corpus.select(col("doc_id"),
        graft.functions.Exact.round6(col("quality_score")).as("quality_score"),
        col("pred_lang"), col("split"))
    }),
    "d_contamination" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.contamination(docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20))
    }),
    // survivorship policy: near-dup clusters keep the LONGEST doc
    "d_dedup_keep_best" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.applyDedupKeepBest(docs,
          Dedup.minhashLsh(docs, 3, 64, 16, 0.5), col("n_chars"))
        .select(col("doc_id"), col("n_chars"))
    }),
    // the "where did my data go" attrition report over the same prep run
    "d_prep_attrition" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      CorpusPipeline.attrition(
        docs.where(col("doc_id") >= 20), Some(docs.where(col("doc_id") < 20)),
        CorpusPipeline.Config(minQuality = 0.2))
    }),
    "p_split" -> ((s, d) => Sampling.hashSplit(Tables.documents(s, d))),
    "p_sample" -> ((s, d) => Sampling.stratifiedSample(Tables.documents(s, d))),
    "p_pack" -> ((s, d) => Sampling.packSequences(Tables.documents(s, d))),
    // best-first token-budget fill: global quality-ranked cumulative
    // token sum on the audited two-level bucket-monotone scan
    "p_token_budget" -> ((s, d) => Sampling.tokenBudget(Tables.documents(s, d))),
    "p_wsample" -> ((s, d) => Sampling.weightedSample(Tables.documents(s, d), "n_chars")),
    "p_shuffle" -> ((s, d) => Sampling.shuffleOrder(Tables.documents(s, d))),
    // the shard data-card over the deterministic shuffle assignment
    // (shard=100 so the driver SF exercises multi-shard tiling)
    "p_manifest" -> ((s, d) => Sampling.shardManifest(Tables.documents(s, d), 100)),
    // alpha-sampling over the skewed lang mix (en is ~3.4x fr at sf0.01)
    "p_temperature" -> ((s, d) => Sampling.temperatureSample(Tables.documents(s, d))),
    "p_epoch_plan" -> ((s, d) => Sampling.epochPlan(Tables.documents(s, d))),
    // weighted provisioning: src0 4x, src1 2x, everything else 1x;
    // keep_rate is the exact literal p_mix would apply per source
    "p_epoch_weighted" -> ((s, d) => Sampling.epochPlanWeighted(
      Tables.documents(s, d), 1000000L, Map("src0" -> 4.0, "src1" -> 2.0))),
    // quality-quartile curriculum provisioning card
    "p_curriculum" -> ((s, d) => Sampling.curriculumCard(Tables.documents(s, d))),
    // 3:1 deterministic mixture schedule: bulk corpus interleaved with
    // the src0 slice, RNG-free slot arithmetic over shuffle positions
    "p_interleave" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Sampling.interleave(docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"), 3, 1)
    }),
    // STREAMING incremental-MV maintenance: the replayed event stream
    // maintains the durable per-type MV via foreachBatch->refreshAggMv;
    // final stored state == the oracle's batch recompute regardless of
    // microbatch boundaries (the merge is algebraic)
    "fs_mv_stream" -> ((s, d) =>
      graft.streaming.EventStream.mvMaintenanceReplay(s, d)),
    // vocabulary/Zipf health card: exact head/tail mass, no log()
    "t_vocab_card" -> ((s, d) => TextAnalysis.vocabCard(Tables.documents(s, d))),
    // mutual-3-NN similarity graph, exact at this corpus size (the
    // at-scale route feeds ivfSearch output to the same mutual filter)
    "s_knn_graph" -> ((s, d) => Similarity.knnGraph(Tables.embeddings(s, d), 3)),
    "s_dbscan" -> ((s, d) => Similarity.dbscanEmbeddings(Tables.embeddings(s, d))),
    "s_silhouette" -> ((s, d) => Similarity.silhouette(Tables.embeddings(s, d))),
    // the linear-cost corpus-scale rung of s_silhouette
    "s_silhouette_centroid" ->
      ((s, d) => Similarity.silhouetteCentroid(Tables.embeddings(s, d))),
    "s_ann_recall" -> ((s, d) => Similarity.annRecall(Tables.embeddings(s, d))),
    // rank-aware sibling of the recall gate: harmonic-discount nDCG@10
    // of the IVF ranking vs exact (integer lcm weights — no libm in
    // the hashed output), measured each round instead of assumed
    "s_ndcg" -> ((s, d) => Similarity.ndcgCard(Tables.embeddings(s, d))),
    // incremental index maintenance: centroids frozen on the 80% base,
    // the 20% delta upserted as a committed segment (FAISS add());
    // search over the segmented index == the oracle's rebuild against
    // the same base-only centroids — batch boundaries invisible
    "s_ann_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("ann_upsert_idx")
      cat.saveAnnIndex("ann_upsert_idx",
        Similarity.buildIvfIndex(emb.where(col("vec_id") % 5 =!= 0)))
      cat.upsertAnnIndex("ann_upsert_idx",
        emb.where(col("vec_id") % 5 === 0), batchId = 1L)
      val idx = cat.loadAnnIndex("ann_upsert_idx")
      val queries = idx.assignments.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      Similarity.ivfSearch(idx, queries, k = 10, nProbe = 4)
    }),
    // the same upsert contract for the index that still FITS at
    // 100 TB: the delta is int8-coded against the FROZEN centroids
    // AND per-cell scales; segmented ADC search == the oracle's
    // encode-everything rebuild over the same frozen quantizer
    "s_ann_upsert_q" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("ann_upsert_qidx")
      cat.saveAnnIndexQ("ann_upsert_qidx",
        Similarity.buildIvfIndexQ(emb.where(col("vec_id") % 5 =!= 0)))
      cat.upsertAnnIndexQ("ann_upsert_qidx",
        emb.where(col("vec_id") % 5 === 0), batchId = 1L)
      Similarity.ivfSearchQ(cat.loadAnnIndexQ("ann_upsert_qidx"),
        Similarity.queryVectors(emb, 5), k = 10, nProbe = 4)
    }),
    // approximate-then-exact serving (the FAISS refine pattern): the
    // int8 index picks k·alpha candidates, only those touch the
    // full-precision vectors — exact cosine, re-ranked to k; the
    // oracle replays candidate pick AND refine end-to-end
    "s_ann_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfSearchQReranked(Similarity.buildIvfIndexQ(emb), emb,
        Similarity.queryVectors(emb, 5), k = 10, alpha = 3, nProbe = 4)
    }),
    // contrastive-training mining: per query, the top-k most similar
    // vectors with a DIFFERENT label — the label inequality fused into
    // the one streaming pass past the broadcast query set
    "s_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), 5, 10)),
    // the 100× mine: candidates from the oversampled int8 probe
    // (k·alpha absorbs quantization reorder AND label-filter loss),
    // exact rerank on the survivors only — all equi-joins
    "s_hard_negatives_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesIvf(Similarity.buildIvfIndexQ(emb), emb,
        5, k = 10, alpha = 4, nProbe = 4)
    }),
    // the N-dim rectangle probe over a Z-ordered layout: Z-clustering
    // keeps per-file ranges tight on BOTH interleaved dimensions, so
    // the 2-D intersection skips files neither 1-D slab could
    "fs_zonemap_2d" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      val dest = s"${cat.derivedDir}/lineitem_zm2"
      cat.writeZOrderedN(Tables.lineitem(s, d), dest, 16,
        Seq("l_partkey", "l_suppkey"))
      cat.buildZoneMap(dest, Seq("l_partkey", "l_suppkey"))
      cat.scanZoneMappedN(dest, Seq(
          ("l_partkey", lit(40L), lit(120L)),
          ("l_suppkey", lit(2L), lit(8L))))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0")
            .as("sum_price"))
    }),
    // zone-map data skipping: per-file min/max sidecar built in one
    // grouped scan; the range probe opens ONLY intersecting files and
    // re-applies the exact BETWEEN — bytes move, results never change
    "fs_zonemap" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      val dest = s"${cat.derivedDir}/lineitem_zm"
      cat.writeSorted(Tables.lineitem(s, d), dest, 16, "l_shipdate")
      cat.buildZoneMap(dest, Seq("l_shipdate"))
      cat.scanZoneMappedN(dest, Seq(("l_shipdate",
          lit("1996-01-01").cast("timestamp"),
          lit("1996-06-30").cast("timestamp"))))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0")
            .as("sum_price"))
    }),
    // uniform-without-replacement cap of 10 docs per source
    "p_cap_source" -> ((s, d) => Sampling.capPerGroup(Tables.documents(s, d), 10)),
    "s_ann_brute" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 5, 10)),
    // MMR diversified rerank of the exact top-10: greedy
    // λ·rel − (1−λ)·max-sim-to-picked, 5 picks per query — bounded
    // per-query work after the audited candidate scan
    "s_mmr" -> ((s, d) => Similarity.mmrRerank(Tables.embeddings(s, d))),
    // the 100× form: same greedy rerank fed by the IVF candidate scan
    "s_mmr_ivf" -> ((s, d) => Similarity.mmrRerankIvf(Tables.embeddings(s, d))),
    "s_ann_lsh" -> ((s, d) => Similarity.lshAnn(Tables.embeddings(s, d), 5, 10)),
    "s_ann_ivf" -> ((s, d) => Similarity.ivfAnn(Tables.embeddings(s, d), 5, 10)),
    "t_token_count" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "t_quality" -> ((s, d) => TextAnalysis.quality(Tables.documents(s, d))),
    // trainable quality model: 3 full-batch GD steps (bounded 1-row
    // collect each — the Bpe fixed-point pattern), engine-exact via the
    // rational sigmoid + fixed-point long gradient sums
    "t_quality_model" -> ((s, d) => QualityModel.trainCard(Tables.documents(s, d))),
    // the composed gate: train, then the map-only per-doc scorer
    "t_quality_scores" -> ((s, d) => QualityModel.trainAndScore(Tables.documents(s, d))),
    // is the score a rate? per-decile mean prediction vs empirical keep
    // rate + Brier, integer-exact off the 6-decimal rational sigmoid
    "t_quality_calibration" -> ((s, d) =>
      QualityModel.calibrationCard(Tables.documents(s, d))),
    // does the score RANK? Mann-Whitney AUC over the model's own
    // scores, integer-exact through ties (twice-average-rank trick)
    "t_quality_auc" -> ((s, d) =>
      QualityModel.aucCard(Tables.documents(s, d))),
    // the trained gate deployed on a REAL checkpointed document stream
    // (train batch-side, score+filter stateless in-stream): emitted
    // multiset ≡ the batch filter, which the oracle replays
    "d_quality_stream" -> ((s, d) => streaming.DocStream.qualityGateReplay(s, d)),
    // stopword set adapted to the synthetic vocabulary (the published
    // 8-word set shares only 'the' with this corpus — every doc would
    // fail the >=2-distinct rule vacuously)
    "t_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(Tables.documents(s, d),
      stops = TextAnalysis.EnStopwords)),
    "t_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    // lexical retrieval: BM25 top-10 for a three-term query; rank key
    // is the ROUNDED score with doc_id tie-break, so the top-k set is
    // engine-stable
    "t_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), Seq("data", "join", "scan"))),
    // MORE-LIKE-THIS: the query is DERIVED from one document (top
    // qtf·idf terms over the remaining corpus), then the rest of the
    // corpus is BM25-ranked on it — Lucene's MLT shape; the term pick,
    // the fold order, and the scoring tail all replay in DuckDB
    "t_mlt" -> ((s, d) =>
      TextAnalysis.moreLikeThis(Tables.documents(s, d), queryDocId = 42L)),
    // the SERVED form: same query against the committed inverted index
    // (postings/dl/stats artifacts) — equal results, no corpus re-scan
    "fs_bm25_indexed" -> ((s, d) => {
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("text_idx")
      cat.buildTextIndex("text_idx", Tables.documents(s, d))
      TextAnalysis.bm25Indexed(cat.loadTextIndex("text_idx"),
        Seq("data", "join", "scan"))
    }),
    // O(Δ) index maintenance: build on 80% of docs, upsert the rest as
    // a committed segment; stats fold losslessly, so the segmented
    // search == the monolithic rebuild == the direct-scan oracle
    "fs_bm25_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("text_idx_up")
      cat.buildTextIndex("text_idx_up", docs.where(col("doc_id") % 5 =!= 0))
      cat.upsertTextIndex("text_idx_up", docs.where(col("doc_id") % 5 === 0),
        batchId = 1L)
      TextAnalysis.bm25Indexed(cat.loadTextIndex("text_idx_up"),
        Seq("data", "join", "scan"))
    }),
    // PHRASE-scored BM25: "data join" must occur at CONSECUTIVE
    // positions (adjacency, not co-occurrence); tf = phrase starts,
    // scored by the same tail with the phrase as one pseudo-term
    "t_bm25_phrase" -> ((s, d) =>
      TextAnalysis.bm25Phrase(Tables.documents(s, d), Seq("data", "join"))),
    // the phrase query served from a POSITIONAL index: adjacency runs
    // over <= |phrase| stored posting reads, the corpus is never
    // re-tokenized; equals the direct scan exactly (same oracle)
    "fs_bm25_phrase_idx" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("text_idx_pos")
      cat.buildTextIndex("text_idx_pos", docs.where(col("doc_id") % 4 =!= 0),
        positional = true)
      cat.upsertTextIndex("text_idx_pos", docs.where(col("doc_id") % 4 === 0),
        batchId = 1L)
      TextAnalysis.bm25PhraseIndexed(cat.loadTextIndex("text_idx_pos"),
        Seq("data", "join"))
    }),
    "t_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(Tables.documents(s, d))),
    "d_source_stats" -> ((s, d) => TextAnalysis.sourceStats(Tables.documents(s, d))),
    "t_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "t_char_ngrams" -> ((s, d) => TextAnalysis.charNgramTop(Tables.documents(s, d))),
    "t_sentences" -> ((s, d) => TextAnalysis.sentenceStats(Tables.documents(s, d))),
    "t_normalize" -> ((s, d) => TextAnalysis.normalize(Tables.documents(s, d))),
    "t_tfidf" -> ((s, d) => TextAnalysis.tfidf(Tables.documents(s, d))),
    "t_keyword_topk" -> ((s, d) => TextAnalysis.keywordTopK(Tables.documents(s, d))),
    "t_redact" -> ((s, d) => TextAnalysis.redact(Tables.events(s, d), "event_id", "props")),
    // Pareto frontier of (price, size) — two-phase distinct-x scan vs
    // the oracle's O(n^2) dominance NOT EXISTS (opposite formulations)
    "q_skyline" -> ((s, d) => Analytics.partSkyline(s, d)),
    // full sketch set algebra between the lineitem and part key sets
    "q_kmv_setops" -> ((s, d) => Analytics.kmvSetOps(
      Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey")),
    // compliance card: PII exposure per event type, BEFORE redaction
    "d_pii_audit" -> ((s, d) =>
      TextAnalysis.piiAudit(Tables.events(s, d), "event_type", "props")),
    // code-vs-prose routing signals per document
    "t_code_detect" -> ((s, d) => TextAnalysis.codeSignals(Tables.documents(s, d))),
    "t_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "t_chunk" -> ((s, d) => TextAnalysis.chunk(Tables.documents(s, d))),
    // distributed BPE tokenizer fitting: the learned merge table and
    // the resulting subword vocabulary after 8 greedy rounds
    "t_bpe_train" -> ((s, d) => operators.Bpe.merges(Tables.documents(s, d), 8)),
    "t_bpe_train_eow" -> ((s, d) => operators.Bpe.merges(Tables.documents(s, d), 8, eow = true)),
    "t_bpe_vocab" -> ((s, d) => operators.Bpe.vocab(Tables.documents(s, d), 8)),
    "t_bigram_lm" -> ((s, d) => TextAnalysis.bigramLm(Tables.documents(s, d))),
    "d_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables.documents(s, d))),
    "d_ccnet_buckets" -> ((s, d) => TextAnalysis.ccnetBuckets(Tables.documents(s, d))),
    // DSIR-shaped target-domain selection: English docs as the target
    // slice, hashed-bigram importance ratios per doc
    "d_importance" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextAnalysis.importanceWeights(Tables.documents(s, d), col("lang") === "en")
    }),
    // the DSIR selection step: docs whose importance beats the corpus
    // mean (exact cross-multiplied decimal comparison, no double mean)
    "d_select_target" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextAnalysis.importanceSelect(Tables.documents(s, d), col("lang") === "en")
    }),
    "d_span_dedup" -> ((s, d) => Dedup.spanDedup(Tables.documents(s, d))),
    // the removal twin: scrubbed corpus with cleaned text reassembled
    "d_span_scrub" -> ((s, d) => Dedup.scrubSpans(Tables.documents(s, d))),
    "p_mix" -> ((s, d) => Sampling.mixtureSample(Tables.documents(s, d),
      Map("src0" -> 0.1, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75), defaultRate = 0.9)),
    // MERGE/upsert: a simulated edit batch (every 7th doc, re-measured
    // n_chars) replaces its corpus rows; everything else passes through
    "fs_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val updates = base.where(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      graft.sources.Catalog.upsert(base, updates, "doc_id")
    }),
    // incremental MV maintenance: per-day order stats where 90% of the
    // fact table was aggregated into a PERSISTED base state and every
    // 10th order arrives as the delta batch; the merge must equal the
    // oracle's full recompute (count/cents sums combine algebraically)
    // append-only JOIN view: two exactly-once segment appends
    // (Δorders ⋈ customer), read back as the union of committed
    // segments — the view itself is never rewritten
    "fs_mv_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("orders_cust")
      val fact = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      cat.appendJoinMv("orders_cust",
        fact.where(col("o_orderkey") % 10 =!= 0), dim, Seq("o_custkey"), Some(1L))
      cat.appendJoinMv("orders_cust",
          fact.where(col("o_orderkey") % 10 === 0), dim, Seq("o_custkey"), Some(2L))
        .select(col("o_orderkey"), col("o_custkey"),
          (col("price_cents").cast("double") / 100.0).as("price"),
          col("c_nationkey"))
    }),
    "fs_incr_agg" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ord = Tables.orders(s, d)
      def dayAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      // DURABLE MV refresh under the Catalog-owned warehouse layout (the
      // testdata base dir is read-only): drop → refresh(90% batch) →
      // refresh(10% delta). The second refresh resumes from the state the
      // first COMMITTED TO DISK (a manifest over parquet, no in-process
      // cache), so this drives the full store→resume→merge→write-back
      // path every run; the leading drop makes the gate idempotent.
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("orders_day")
      cat.refreshAggMv("orders_day",
        dayAgg(ord.where(col("o_orderkey") % 10 =!= 0)), Seq("day"))
      cat.refreshAggMv("orders_day",
          dayAgg(ord.where(col("o_orderkey") % 10 === 0)), Seq("day"))
        .select(col("day"), col("n_orders"),
          (col("rev_cents").cast("double") / 100.0).as("revenue"))
    }),
    // a key lookup against the durable MV: the committed state joined
    // to a broadcast probe — results equal a plain filter over the
    // full aggregate, which is the oracle
    "fs_mv_lookup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val ord = Tables.orders(s, d)
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("orders_day_lkp")
      cat.refreshAggMv("orders_day_lkp",
        ord.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .as("rev_cents")),
        Seq("day"))
      val probe = Seq("1995-06-19", "2000-02-03", "1996-02-25").toDF("day")
      cat.mvState("orders_day_lkp").join(broadcast(probe), Seq("day"))
        .select(col("day"), col("n_orders"),
          (col("rev_cents").cast("double") / 100.0).as("revenue"))
    }),
    // bounded-sketch MV rung: a distinct-parts-per-flag KMV sketch
    // maintained INCREMENTALLY over three thirds of lineitem — the
    // refreshed estimate must equal the from-scratch sketch exactly
    // (KMV merge is lossless for the k smallest), which the oracle's
    // whole-table rebuild checks
    "fs_incr_kmv" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        operators.TextAnalysis.portableHash60(col("l_partkey")).as("h"),
        col("l_orderkey"))
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("kmv_flag_parts")
      (0 until 3).foreach { b => // arrival-order thirds, orderkey-keyed
        cat.refreshKmvMv("kmv_flag_parts",
          li.where(pmod(col("l_orderkey"), lit(3)) === b),
          Seq("l_returnflag"), "h", 64)
      }
      cat.kmvMvEstimate("kmv_flag_parts", Seq("l_returnflag"), 64)
        .select(col("l_returnflag"), col("hk").as("hk_parts"),
          col("est").as("est_parts"))
    }),
    // the QUANTILE sketch-MV rung beside the KMV one: a bottom-k price
    // sample per flag maintained over three arrival-order thirds —
    // lossless merge, so the refreshed p50/p95 equal the from-scratch
    // sketch (the oracle IS q_qsketch's whole-table rebuild)
    "fs_incr_qsketch" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        operators.TextAnalysis.portableHash60(col("l_orderkey"),
          lit("-"), col("l_linenumber")).as("h"),
        col("l_extendedprice").as("val"), col("l_orderkey"))
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("qsk_flag_price")
      (0 until 3).foreach { b =>
        cat.refreshQsketchMv("qsk_flag_price",
          li.where(pmod(col("l_orderkey"), lit(3)) === b),
          Seq("l_returnflag"), "h", "val", 256)
      }
      cat.qsketchMvEstimate("qsk_flag_price", Seq("l_returnflag"), 256)
    }),
    // retention/TTL purge: pre-1998 orders are deleted INTO the
    // versioned snapshot family (pre-purge state stays readable by
    // version) and the kept slice is read BACK from the committed
    // snapshot — n_snapshot/kept_revenue come from disk, so the oracle
    // checks the storage round-trip, not just the filter arithmetic
    "fs_ttl" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("snap_orders_ttl") // deterministic v1 each run
      val card = cat.retentionPurge("orders_ttl", Tables.orders(s, d),
        expr("unix_micros(o_orderdate) >= 883612800000000"))
      val snap = cat.readSnapshot("orders_ttl")
      card.crossJoin(broadcast(snap.agg(count(lit(1)).as("n_snapshot"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("kc"))))
        .select(col("n_kept"), col("n_purged"), col("n_snapshot"),
          (col("kc").cast("double") / 100.0).as("kept_revenue"))
    }),
    "m_meta" -> ((s, d) => Multimodal.metaExtract(Tables.documents(s, d))),
    // REAL codec round-trips (JDK ImageIO / WAV): payload dimensions are
    // derived arithmetically from n_chars, so the oracle predicts what
    // the genuine byte→pixels/samples decode must report
    "m_decode" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Multimodal.decodeImages(Multimodal.syntheticImages(Tables.documents(s, d)))
        .where(col("ok"))
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"))
    }),
    "m_audio" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Multimodal.decodeWav(Multimodal.syntheticWavs(Tables.documents(s, d)))
        .where(col("ok"))
        .select(col("doc_id"), col("sample_rate"), col("channels"), col("bits"),
          col("n_frames"), col("duration_us"))
    }),
    // planted-content perceptual dedup: docs (2k, 2k+1) render the same
    // image; the PNG-encode → decode → dHash → banded-join pipeline must
    // recover exactly those pairs and nothing else
    "m_phash_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr, xxhash64}
      val docs = Tables.documents(s, d)
        .withColumn("n_chars", expr("(doc_id div 2) * 7 + 64"))
      Multimodal.imageNearDup(
          Multimodal.syntheticImages(docs, xxhash64(expr("doc_id div 2"))), 0)
        .select(col("id_a"), col("id_b"))
    }),
    "q_salted_agg" -> ((s, d) =>
      Skew.saltedAgg(Tables.lineitem(s, d), "l_returnflag", "l_extendedprice")),
    // revenue per flag label through a derived 3-value flag dimension:
    // a hot-key join (each key owns ~1/3 of the facts), salted 8 ways;
    // the plain join's oracle verifies the salting preserved semantics
    "q_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, count, lit, sum}
      import graft.functions.Exact.cents
      val lineitem = Tables.lineitem(s, d)
      val li = lineitem.select(col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_c"))
      val dim = lineitem.select(col("l_returnflag")).distinct()
        .withColumn("flag_label", concat(lit("flag_"), col("l_returnflag")))
      Skew.saltedJoin(li, dim, "l_returnflag", 8)
        .groupBy(col("flag_label"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("price_c")).cast("double") / 100.0).as("revenue"))
    }),
    // E. storage engine introspection (DFS cluster-stats analog)
    "fs_stats" -> ((s, d) => new graft.sources.Catalog(s, d).rowCounts()),
    // hive-partitioned layout: the status filter is answered from the
    // directory listing (PartitionFilters), zero non-matching files read
    "fs_partition_prune" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, lit}
      new graft.sources.Catalog(s, d,
          Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
        .partitionedLayout(Tables.orders(s, d), "orders_by_status", "o_orderstatus")
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0")
            .as("sum_price"))
    }),
    "fs_zorder" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        graft.sources.Catalog.zValueN(Seq(col("l_partkey"), col("l_suppkey"))).as("z"))
    }),
    "q_abc" -> ((s, d) => Analytics.abcClassification(Tables.lineitem(s, d))),
    "q_benford" -> ((s, d) => Analytics.benfordCard(Tables.orders(s, d))),
    "q_lorenz" -> ((s, d) => Analytics.lorenzDeciles(Tables.orders(s, d))),
    "q_basket_rules" -> ((s, d) => Analytics.basketRules(Tables.lineitem(s, d))),
    "q_rfm" -> ((s, d) => Analytics.rfmSegments(Tables.orders(s, d))),
    "e_cusum" -> ((s, d) => Events.cusumChangePoint(Tables.events(s, d))),
    "e_peaks" -> ((s, d) => Events.peakCensus(Tables.events(s, d))),
    "s_radius" -> ((s, d) =>
      Similarity.radiusSearch(Tables.embeddings(s, d), 5, 0.3)),
    // REAL checkpointed streaming CDC replay (8th live replay): the
    // event log maintained as a durable latest-row-per-user view
    "e_cdc_stream" -> ((s, d) =>
      graft.streaming.EventStream.cdcReplay(s, d)),
    // the version-HISTORY sibling (14th live replay): SCD2 maintained
    // incrementally — closed versions append as immutable segments per
    // microbatch, only open versions ride in state; the union must
    // equal the oracle's lead() over the whole change log
    "e_scd2_stream" -> ((s, d) =>
      graft.streaming.EventStream.scd2Replay(s, d)),
    // out-of-order repair: the MV is fed everything EXCEPT a held-out
    // late slice, then scd2Backfill reconstructs the affected keys'
    // change logs from the stored history and merges the late rows —
    // the result equals the full-log lead() as if nothing was late
    "fs_scd2_backfill" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.dropDerived("scd2_backfill_mv")
      val changes = Tables.events(s, d).select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid")).as("seq"),
        when(col("event_type") === "error", "d").otherwise("u").as("op"),
        col("event_type").as("last_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"))
      val lateSlice = col("seq.eid") % 11 === 3
      cat.refreshScd2Mv("scd2_backfill_mv", changes.where(!lateSlice),
        "user_id", "seq", "op", batchId = 0L)
      cat.scd2Backfill("scd2_backfill_mv", changes.where(lateSlice),
        "user_id", "seq", "op")
      cat.scd2MvHistory("scd2_backfill_mv", "seq", "op")
        .select(col("user_id"), col("last_type"),
          (col("value_cents").cast("double") / 100.0).as("last_value"),
          col("valid_from.us").as("valid_from_us"),
          col("valid_from.eid").as("valid_from_eid"),
          col("valid_to.us").as("valid_to_us"),
          col("valid_to.eid").as("valid_to_eid"),
          col("is_current"))
    }),
    // the quantile sketch-MV rung run live (15th replay): per-type
    // value p50/p95 in <= k durable pairs per key; lossless merge, so
    // the stream-folded estimates equal the oracle's from-scratch
    // bottom-k rebuild
    "e_qsketch_stream" -> ((s, d) =>
      graft.streaming.EventStream.qsketchMaintenanceReplay(s, d)),
    // the drift card maintained live (16th replay): cohort counts fold
    // through the agg MV, the card reads the folded state — equals the
    // whole-log rebuild because counts are algebraic
    "e_drift_stream" -> ((s, d) =>
      graft.streaming.EventStream.driftMaintenanceReplay(s, d)),
    // the ingested-id Bloom maintained live (18th replay): bit-OR folds
    // losslessly, candidates the filter rejects are DEFINITELY new —
    // the result equals NOT IN over the whole log, so a dropped bit
    // fails the gate
    "e_bloom_stream" -> ((s, d) =>
      graft.streaming.EventStream.bloomMaintenanceReplay(s, d)),
    // the text index maintained live from the document stream (17th
    // replay): every doc arrives as a segment upsert; stats fold
    // losslessly, so the served search equals the direct corpus scan
    "d_index_stream" -> ((s, d) =>
      graft.streaming.DocStream.textIndexMaintenanceReplay(s, d)),
    // the live index with AUTO-MAINTAIN (20th replay shape): one-file
    // triggers so segments accumulate fast, compaction fires from
    // INSIDE the foreachBatch drive whenever committed segments reach
    // 4 — the post-run search still equals the direct corpus scan
    "d_index_maint" -> ((s, d) =>
      graft.streaming.DocStream.textIndexMaintenanceReplay(s, d,
        maxFilesPerTrigger = 1, autoMaintainAt = Some(4))),
    // the numeric-drift gate LIVE (19th replay): both cohorts' values
    // fold into one bottom-k quantile-sketch MV; the KS-style
    // decile-shift card reads the <= k-per-cohort state — the oracle
    // rebuilds both samples from the whole log
    "e_drift_numeric" -> ((s, d) =>
      graft.streaming.EventStream.numericDriftReplay(s, d)),
    "d_diversity" -> ((s, d) =>
      TextAnalysis.sourceDiversity(Tables.documents(s, d))),
    "t_source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(Tables.documents(s, d))),
    "e_runs" -> ((s, d) => Events.runsTest(Tables.events(s, d))),
    "e_match" -> ((s, d) => Events.matchEpisodes(Tables.events(s, d))),
    // REAL checkpointed streaming NFA replay (9th live replay): same
    // oracle as e_match — custom stateful logic value-checked
    "e_match_stream" -> ((s, d) =>
      graft.streaming.EventStream.matchReplay(s, d)),
    "e_funnel_steps" -> ((s, d) => Events.funnelSteps(Tables.events(s, d))),
    "d_datasheet" -> ((s, d) =>
      TextAnalysis.datasheet(Tables.documents(s, d))),
    "q_tukey" -> ((s, d) => Analytics.tukeyOutliers(s, d)),
    "e_funnel_rates" -> ((s, d) => Events.funnelRates(Tables.events(s, d))),
    "q_wmedian" -> ((s, d) => Analytics.weightedMedian(Tables.lineitem(s, d))),
    "e_growth" -> ((s, d) => Events.growthAccounting(Tables.events(s, d))),
    "q_ltv" -> ((s, d) => Analytics.cohortLtv(Tables.orders(s, d))),
    "e_stickiness" -> ((s, d) => Events.stickiness(Tables.events(s, d))),
    "e_backtest" -> ((s, d) => Events.forecastBacktest(Tables.events(s, d))),
    "q_new_repeat" -> ((s, d) => Analytics.newVsRepeat(Tables.orders(s, d))),
    "q_reorder_gap" -> ((s, d) => Analytics.reorderGaps(Tables.orders(s, d))),
    "fs_histogram" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      graft.sources.Catalog.equiDepthHistogram(Tables.orders(s, d),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    }),
    "fs_skew" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.sources.Catalog.skewCard(Tables.lineitem(s, d), col("l_orderkey"))
    }),
    "e_concurrency" -> ((s, d) =>
      Events.peakConcurrency(Tables.events(s, d))),
    "t_lang_profile" -> ((s, d) =>
      TextAnalysis.langProfile(Tables.documents(s, d))),
    // release-governance read: how much of the corpus hides in
    // quasi-identifier classes of >= 5, and the l-diversity floor
    "d_kanon" -> ((s, d) =>
      TextAnalysis.kAnonymityCard(Tables.documents(s, d))),
    // snapshot-drift card: TVD + biggest-moving category per monitored
    // feature between two corpus halves (even/odd doc_id stands in for
    // consecutive drops) — exact integer numerator, one closing division
    "d_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      TextAnalysis.driftCard(
        docs.where(pmod(col("doc_id"), lit(2L)) === 0),
        docs.where(pmod(col("doc_id"), lit(2L)) === 1),
        Seq("lang" -> col("lang"), "source" -> col("source"),
          "len_bucket" -> expr("n_chars div 500")))
    }),
    // ingest-gate contract card: every rule's violation count must be 0
    "fs_contract" -> ((s, d) =>
      graft.sources.Catalog.ordersContractCard(s, d)),
    // k-fold with the same exact-pair mine as p_leak_split: no mined
    // near-dup pair ever straddles folds
    "p_kfold" -> ((s, d) => Sampling.kfoldLeakSafe(Tables.documents(s, d),
      Dedup.ngramJaccard(Tables.documents(s, d), 3, 0.5))),
    // schema-evolution read: an old batch without a column and a new
    // batch with it merge into one view; the old rows surface NULLs
    "fs_evolve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      val dir = s"${cat.derivedDir}/evolve_demo"
      val o = Tables.orders(s, d)
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        .write.mode("overwrite").parquet(s"$dir/b1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/b2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/b1", s"$dir/b2")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("price_c")).cast("double") / 100.0).as("revenue"))
    }),
    "e_deseason" -> ((s, d) => Events.deseasonOutliers(Tables.events(s, d))),
    "e_acf" -> ((s, d) => Events.acf(Tables.events(s, d))),
    // last-touch multi-channel attribution with a 7-day lookback:
    // one user-partitioned window (reuses the loader spread) + a
    // 3-row channel rollup with exact-cents revenue
    "e_attribution" -> ((s, d) => Events.attributionCard(Tables.events(s, d))),
    // Welch two-sample t per event-type pair: integer-exact moments,
    // fixed double shapes for mean/s²/t/df (the q_chi2 class)
    "q_ttest" -> ((s, d) => Analytics.welchTTest(Tables.events(s, d))),
    // one-way ANOVA across all types: same exact moments, micro-unit
    // fixed-point cross-group sum, F + eta² card
    "q_anova" -> ((s, d) => Analytics.anovaCard(Tables.events(s, d))),
    // Kaplan-Meier survival of reorder gaps (censoring-aware): integer
    // risk sets on the two-level scan, fixed-point log-survival
    "q_survival" -> ((s, d) => Analytics.kaplanMeier(Tables.orders(s, d))),
    // Mann-Whitney U click-vs-view: tie-aware midranks at distinct-
    // value grain on the two-level scan, doubled-rank integers, one
    // fixed z shape (the nonparametric sibling of q_ttest)
    "q_mwu" -> ((s, d) => Analytics.mannWhitneyU(Tables.events(s, d))),
    // multi-touch attribution (linear + U-shaped position): one
    // user-keyed equi-join with the lookback as a range predicate,
    // purchase-partitioned windows, integer cent·bp credit
    "e_attribution_multi" -> ((s, d) =>
      Events.multiTouchAttribution(Tables.events(s, d))),
    "fs_analyze" -> ((s, d) => graft.sources.Catalog.analyzeColumns(
      Tables.lineitem(s, d),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"))),
    // co-located fact-fact join: bucketing IS the pre-shuffle, paid at
    // write time — the join itself plans with NO exchange on either
    // side (BucketedJoinSpec pins the plan; this entry pins the values)
    "fs_bucket_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cat = new graft.sources.Catalog(s, d,
        Some(graft.sources.Catalog.warehouseLayoutRoot(s, d)))
      cat.writeBucketed(Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        "graft_bj_li", "l_orderkey", 8)
      cat.writeBucketed(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bj_o", "o_orderkey", 8)
      s.table("graft_bj_li")
        .join(s.table("graft_bj_o"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("price_c")).cast("double") / 100.0).as("revenue"))
    }),
    // SQL FRONT DOOR (graft.functions.TableFunctions): the same
    // operators reached as SQL table functions — resolved at analysis
    // into the operator's own plan, so these must match the operator
    // oracles verbatim (a drift here = TVF registration rot)
    "sql_asof" -> ((s, d) => s.sql(s"SELECT * FROM graft_asof('$d')")),
    "sql_dedup_minhash" ->
      ((s, d) => s.sql(s"SELECT * FROM graft_dedup_minhash('$d')")),
    "sql_mmr" -> ((s, d) => s.sql(s"SELECT * FROM graft_mmr('$d')")),
    "sql_hard_negatives" -> ((s, d) =>
      s.sql(s"SELECT * FROM graft_hard_negatives('$d')")),
    "sql_drift" -> ((s, d) => s.sql(s"SELECT * FROM graft_drift('$d')")),
    "sql_bm25" -> ((s, d) =>
      s.sql(s"SELECT * FROM graft_bm25('$d', 'data join scan')")),
    "sql_bm25_phrase" -> ((s, d) =>
      s.sql(s"SELECT * FROM graft_bm25_phrase('$d', 'data join')")),
    // the pipeline-verb cards through the SQL front door: the prep
    // attrition report (benchmark = doc_ids below 20, minQuality 0.20
    // — the d_prep_attrition demo config) and the ingest contract card
    "sql_prep_attrition" -> ((s, d) =>
      s.sql(s"SELECT * FROM graft_prep_attrition('$d', 20, 20)")),
    "sql_contract" -> ((s, d) =>
      s.sql(s"SELECT * FROM graft_contract('$d')")),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_word_count" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    "q_avg_by_key" ->
      "SELECT p_brand, CAST(sum(CAST(round((p_retailprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_val FROM part GROUP BY p_brand",
    "q_grep" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE text LIKE '%data%'",
    // the reviews-port oracle matches its declarative twin; the word-count
    // port splits on space/tab ONLY (faithful to the reference plugin), so
    // its oracle must too — a '\s+' split would diverge on any corpus with
    // newlines inside `text`
    "mr_word_count" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(text, '[ \t]+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    "mr_avg_by_key" ->
      "SELECT p_brand, CAST(sum(CAST(round((p_retailprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_val FROM part GROUP BY p_brand",
    "q_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000""",
    "q_top_k" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20""",
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
                CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q3_join" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
                CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-01-01'
           AND l_shipdate > TIMESTAMP '1998-06-30'
         GROUP BY o_orderkey, CAST(o_orderdate AS DATE)""",
    "q5_join" ->
      """SELECT n_name, CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name""",
    "q_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_semi_anti" ->
      """SELECT c_custkey, 'with_orders' AS tag FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, 'no_orders' AS tag FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    // the bloom prefilter moves bytes, never results: plain IN / NOT
    // EXISTS are the exact semantics
    "q_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag""",
    "q_bloom_anti" ->
      """SELECT c_mktsegment, count(*) AS n
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1997-01-01'
                             AND o_orderdate < TIMESTAMP '1998-01-01')
         GROUP BY c_mktsegment""",
    "q_having" ->
      """SELECT o_custkey, count(*) AS order_cnt,
                CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spent
         FROM orders GROUP BY o_custkey HAVING count(*) > 12""",
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
                count(*) AS cnt
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_setops" ->
      """WITH c96 AS (SELECT o_custkey FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate < TIMESTAMP '1997-01-01'),
              c97 AS (SELECT o_custkey FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                        AND o_orderdate < TIMESTAMP '1998-01-01')
         SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97)
         UNION ALL
         SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97)""",
    "q_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q_median" ->
      """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS median_price,
                count(*) AS cnt
         FROM orders GROUP BY o_orderstatus""",
    "e_asof_fwd" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS tsu,
                  CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_ts,
                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
                  CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS ord
           FROM events WHERE event_type IN ('view', 'purchase')),
         w AS (
           SELECT user_id, tsu, is_v,
                  min(p_ts) OVER (PARTITION BY user_id ORDER BY tsu DESC, ord
                                  ROWS UNBOUNDED PRECEDING) AS next_purchase_us
           FROM u)
         SELECT user_id, tsu AS view_us, next_purchase_us FROM w WHERE is_v = 1""",
    "e_asof" -> asOfSql,
    // the streaming replay finalizes every real event (sentinel-driven
    // watermark), so the batch as-of oracle checks it exactly
    "e_asof_stream" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS tsu,
                  CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                  CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS ord
           FROM events WHERE event_type IN ('view', 'purchase')),
         w AS (
           SELECT user_id, tsu, is_p,
                  max(view_ts) OVER (PARTITION BY user_id ORDER BY tsu, ord
                                     ROWS UNBOUNDED PRECEDING) AS last_view_us
           FROM u)
         SELECT user_id, tsu AS purchase_us, last_view_us FROM w WHERE is_p = 1""",
    // tolerance variant: matches staler than 1h become NULL
    "e_asof_tol" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS tsu,
                  CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                  CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS ord
           FROM events WHERE event_type IN ('view', 'purchase')),
         w AS (
           SELECT user_id, tsu, is_p,
                  max(view_ts) OVER (PARTITION BY user_id ORDER BY tsu, ord
                                     ROWS UNBOUNDED PRECEDING) AS last_view_us
           FROM u)
         SELECT user_id, tsu AS purchase_us,
                CASE WHEN last_view_us >= tsu - 3600000000 THEN last_view_us END AS last_view_us
         FROM w WHERE is_p = 1""",
    // hopping windows: win = 4 x slide exactly, so every event lands in
    // precisely 4 windows — generate the 4 starts with integer µs math
    "e_sliding" ->
      """SELECT strftime(make_timestamp((epoch_us(ts) // 900000000) * 900000000 - j.j * 900000000),
                         '%Y-%m-%d %H:%M') AS win_start,
                event_type, count(*) AS cnt,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
         GROUP BY 1, 2""",
    "e_sliding_distinct" ->
      """SELECT strftime(make_timestamp((epoch_us(ts) // 900000000) * 900000000 - j.j * 900000000),
                         '%Y-%m-%d %H:%M') AS win_start,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
         GROUP BY 1""",
    // the streaming replay finalizes every real window (sentinel-driven
    // watermark clears all real window ends), so the emitted window set
    // equals the batch sliding aggregation — same oracle
    "e_sliding_stream" ->
      """SELECT strftime(make_timestamp((epoch_us(ts) // 900000000) * 900000000 - j.j * 900000000),
                         '%Y-%m-%d %H:%M') AS win_start,
                event_type, count(*) AS cnt,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
         GROUP BY 1, 2""",
    "e_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
                event_type, count(*) AS cnt, CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    // the streaming replay finalizes every real window, so the emitted
    // window set equals the batch tumbling aggregation — same oracle
    "e_tumbling_stream" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
                event_type, count(*) AS cnt, CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    // the chained replay emits each hour's ranked top-3 exactly once;
    // the batch rank over hourly counts replays it (ties → event_type)
    "e_topk_stream" ->
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1, 2)
         SELECT hr, event_type, cnt, rnk FROM (
           SELECT hr, event_type, cnt,
                  row_number() OVER (PARTITION BY hr
                                     ORDER BY cnt DESC, event_type) AS rnk
           FROM h)
         WHERE rnk <= 3""",
    // sessionize CTE + deterministic ORDER/LIMIT (exact-cents sums, so
    // the top-k cut is engine-exact; ties totally ordered)
    "e_top_sessions" ->
      """WITH g AS (
           SELECT user_id, value, epoch_us(ts) AS tsu,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
           FROM events),
         s AS (
           SELECT user_id, value, tsu,
                  CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM g),
         t AS (
           SELECT user_id, value, tsu,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM s),
         sess AS (
           SELECT user_id, session_id, count(*) AS n_events,
                  CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
                  max(tsu) - min(tsu) AS duration_us
           FROM t GROUP BY user_id, session_id)
         SELECT * FROM sess
         ORDER BY sum_value DESC, user_id, session_id LIMIT 20""",
    // native session_window mirror: same session stats, no ordinal;
    // the built-in's boundary is AT-or-after gap (>=), encoded here
    "e_session_builtin" ->
      """WITH g AS (
           SELECT user_id, value, epoch_us(ts) AS tsu,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
           FROM events),
         s AS (
           SELECT user_id, value, tsu,
                  CASE WHEN prev IS NULL OR tsu - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM g),
         t AS (
           SELECT user_id, value, tsu,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM s)
         SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
                max(tsu) - min(tsu) AS duration_us
         FROM t GROUP BY user_id, session_id""",
    "e_sessionize" ->
      """WITH g AS (
           SELECT user_id, value, epoch_us(ts) AS tsu,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
           FROM events),
         s AS (
           SELECT user_id, value, tsu,
                  CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM g),
         t AS (
           SELECT user_id, value, tsu,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM s)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
                max(tsu) - min(tsu) AS duration_us
         FROM t GROUP BY user_id, session_id""",
    // the streaming sessionizer's closed-session multiset equals the
    // batch sessionization (sentinel-driven watermark closes every
    // real session); same lag/cumsum mirror, grouped without session_id
    "e_session_stream" ->
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS tsu,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
           FROM events),
         s AS (
           SELECT user_id, tsu,
                  CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM g),
         t AS (
           SELECT user_id, tsu,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM s)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                min(tsu) AS start_us, max(tsu) AS end_us
         FROM t GROUP BY user_id, session_id""",
    // inner stream-stream join emits every pair once both sides arrive,
    // so the replay equals the plain batch theta join
    "e_ssjoin_stream" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
                epoch_us(p.ts) AS p_us, epoch_us(v.ts) AS v_us
         FROM events p JOIN events v ON p.user_id = v.user_id
         WHERE p.event_type = 'purchase' AND v.event_type = 'view'
           AND v.ts >= p.ts - INTERVAL 3600 SECOND AND v.ts < p.ts""",
    "e_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
                count(DISTINCT event_type) AS n_types,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen
         FROM events GROUP BY user_id""",
    "d_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "e_interval_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tsu FROM events),
         h AS (SELECT DISTINCT tsu // 3600000000 AS h FROM e
               WHERE (tsu // 3600000000) % 7 = 0),
         iv AS (SELECT h AS interval_id, h * 3600000000 AS s,
                       h * 3600000000 + 900000000 AS en FROM h)
         SELECT interval_id, count(*) AS n_events
         FROM iv JOIN e ON tsu >= s AND tsu < en
         GROUP BY interval_id""",
    "e_json" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                count(*) AS cnt,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events GROUP BY 1""",
    "d_contamination" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         c AS (SELECT * FROM sh WHERE doc_id >= 20),
         b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 20)
         SELECT c.doc_id, b.bench_id, count(*) AS n_shared
         FROM c JOIN b USING (shingle)
         GROUP BY c.doc_id, b.bench_id
         HAVING count(*) >= 3""",
    // exact-first pipeline: same n-gram Jaccard oracle, restricted to the
    // exact-dedup keepers (min doc_id per content hash)
    "d_dedup_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         docs2 AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
         tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM docs2),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
                floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
         FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5""",
    "d_dedup_ngram" -> ngramJaccardSql,
    "d_dedup_sweep" -> dedupSweepSql,
    // the card's kept/purged split and the snapshot read-back must both
    // equal the filter arithmetic (1998-01-01 UTC in integer µs)
    "fs_ttl" ->
      """SELECT CAST(sum(CASE WHEN epoch_us(o_orderdate) >= 883612800000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN epoch_us(o_orderdate) < 883612800000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
                CAST(sum(CASE WHEN epoch_us(o_orderdate) >= 883612800000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_snapshot,
                CAST(sum(CASE WHEN epoch_us(o_orderdate) >= 883612800000000
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) AS DOUBLE) / 100.0 AS kept_revenue
         FROM orders""",
    // corpus redundancy per source: STRING shingles (count cards have
    // no verify step to absorb a 64-bit hash collision), integer
    // counts at three grains, single exact-input divisions
    "d_redundancy" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
           FROM documents),
         occ AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                 WHERE len(w) >= 3),
         socc AS MATERIALIZED (SELECT d.source, o.doc_id, o.shingle
                 FROM occ o JOIN documents d ON o.doc_id = d.doc_id),
         raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_occ
                 FROM socc GROUP BY 1),
         dg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_doc_sh FROM
                 (SELECT DISTINCT source, doc_id, shingle FROM socc) GROUP BY 1),
         di AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct FROM
                 (SELECT DISTINCT source, shingle FROM socc) GROUP BY 1),
         nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1)
         SELECT nd.source, n_docs,
                COALESCE(n_occ, 0) AS n_occ,
                COALESCE(n_doc_sh, 0) AS n_doc_sh,
                COALESCE(n_distinct, 0) AS n_distinct,
                CASE WHEN COALESCE(n_occ, 0) = 0 THEN NULL
                     ELSE CAST(n_occ - n_distinct AS DOUBLE)
                          / CAST(n_occ AS DOUBLE) END AS dup_rate,
                CASE WHEN COALESCE(n_doc_sh, 0) = 0 THEN NULL
                     ELSE CAST(n_doc_sh - n_distinct AS DOUBLE)
                          / CAST(n_doc_sh AS DOUBLE) END AS cross_dup_rate
         FROM nd
         LEFT JOIN raw ON nd.source = raw.source
         LEFT JOIN dg ON nd.source = dg.source
         LEFT JOIN di ON nd.source = di.source""",
    // the eval card MEASURES the "LSH recall is 1.0 on this corpus at
    // (3,64,16,0.5)" property that d_dedup_minhash's shared oracle and
    // p_leak_split's mirror lean on: the oracle asserts candidates ==
    // truth (tp = |truth|, fp = fn = 0), so any params/corpus change
    // that breaks the property moves fn/fp off 0 and fails LOUDLY here
    "d_dedup_eval" ->
      (s"WITH t AS ($ngramJaccardSql)\n" +
        """SELECT CAST(count(*) AS BIGINT) AS n_truth,
                  CAST(count(*) AS BIGINT) AS n_cand,
                  CAST(count(*) AS BIGINT) AS tp,
                  CAST(0 AS BIGINT) AS fp,
                  CAST(0 AS BIGINT) AS fn,
                  CASE WHEN count(*) = 0 THEN NULL
                       ELSE CAST(count(*) AS DOUBLE) / count(*) END AS precision,
                  CASE WHEN count(*) = 0 THEN NULL
                       ELSE CAST(count(*) AS DOUBLE) / count(*) END AS recall
           FROM t"""),
    // the routed entries take their exact arms at driver scale, so the
    // exact mirrors apply verbatim
    "d_dedup_auto" -> ngramJaccardSql,
    // containment mirror: same inverted index, min-size denominator
    "d_containment" -> containmentSql,
    "d_containment_auto" -> containmentSql,
    // survivorship mirror: components via recursive CTE, winner per
    // component = max n_chars then min doc_id; unpaired docs pass
    "d_dedup_keep_best" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         ranked AS (SELECT c.id, row_number() OVER (PARTITION BY c.component
                        ORDER BY d.n_chars DESC, c.id) AS rnk
                    FROM comp c JOIN documents d ON c.id = d.doc_id),
         losers AS (SELECT id AS doc_id FROM ranked WHERE rnk > 1)
         SELECT doc_id, n_chars FROM documents ANTI JOIN losers USING (doc_id)""",
    // attrition mirror: the same CTE chain as d_corpus_prep, emitting
    // the surviving count after each stage
    "d_prep_attrition" -> prepAttritionSql,
    // the SQL-front-door twin resolves to the same computation
    "sql_prep_attrition" -> prepAttritionSql,
    // the corpus-prep composition verified END-TO-END: each stage reuses
    // the already-verified oracle fragment (quality/lang signals, exact
    // dedup, ngram-Jaccard pairs [== LSH candidates on this corpus],
    // recursive-CTE components, shared-shingle decontamination, md5
    // split); raw-double quality comparisons agree because both engines
    // evaluate the identical integer-input expression shape
    "d_corpus_prep" ->
      """WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
         sig AS (
           SELECT doc_id, text,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS nw,
                  length(text) AS nc,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS h_en,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('el','la','de','y','que','en','los','se','del','las'))) AS h_es,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('le','la','de','et','les','des','un','une','du','que'))) AS h_fr,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('der','die','das','und','ist','von','mit','den','im','ein'))) AS h_de,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('的','是','在','了','和','有','我','他','这','中'))) AS h_zh
           FROM corpus),
         scored AS (
           SELECT doc_id, text,
                  CAST(h_en AS DOUBLE) / greatest(nw, 1) * 0.4
                    + least(CAST(na AS DOUBLE) / greatest(nw, 1) / 10.0, 1.0) * 0.3
                    + (1.0 - CAST(np AS DOUBLE) / greatest(nc, 1)) * 0.3 AS qs,
                  CASE WHEN h_en >= greatest(h_es, h_fr, h_de, h_zh) THEN 'en'
                       WHEN h_es >= greatest(h_fr, h_de, h_zh) THEN 'es'
                       WHEN h_fr >= greatest(h_de, h_zh) THEN 'fr'
                       WHEN h_de >= h_zh THEN 'de' ELSE 'zh' END AS pred_lang
           FROM sig),
         filt AS (SELECT * FROM scored WHERE qs >= 0.2),
         keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text)),
         uniq AS (SELECT f.doc_id, f.text, f.qs, f.pred_lang FROM filt f JOIN keep USING (doc_id)),
         tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM uniq),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         dropping AS (SELECT id AS doc_id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) WHERE id <> component),
         ded AS (SELECT u.doc_id, u.text, u.qs, u.pred_lang FROM uniq u ANTI JOIN dropping dr ON u.doc_id = dr.doc_id),
         bsh AS (SELECT DISTINCT doc_id AS bench_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
                       FROM documents WHERE doc_id < 20)
                 CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         dsh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM ded)
                 CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         flagged AS (SELECT DISTINCT doc_id FROM (
                       SELECT d.doc_id, b.bench_id FROM dsh d JOIN bsh b USING (shingle)
                       GROUP BY d.doc_id, b.bench_id HAVING count(*) >= 3)),
         final AS (SELECT ded.doc_id, ded.qs, ded.pred_lang FROM ded ANTI JOIN flagged fl ON ded.doc_id = fl.doc_id)
         SELECT doc_id,
                floor(qs * 1000000 + 0.5) / 1000000 AS quality_score,
                pred_lang,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'cc' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM final""",
    // connected components over the ngram near-dup pairs, as a recursive
    // CTE: reach(id, r) enumerates every reachable node (UNION dedups →
    // termination), component = min reachable id — same label rule as the
    // Spark side's hash-to-min propagation
    "d_components" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION
                   SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
         SELECT id, min(r) AS component FROM reach GROUP BY id""",
    // same recursive closure, rolled up to the cluster-size histogram
    "d_cluster_sizes" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION
                   SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         cs AS (SELECT component, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY component)
         SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(sum(sz) - count(*) AS BIGINT) AS docs_removed
         FROM cs GROUP BY sz""",
    // minhash-LSH verifies candidates with exact Jaccard; on this corpus
    // (planted near-dups at j≈0.98, 16 bands × 4 rows) it finds exactly
    // the exact-Jaccard pair set, so the same oracle applies.
    "d_dedup_minhash" -> ngramJaccardSql,
    // the LSH pair set additionally edit-distance-verified (DuckDB's
    // levenshtein uses the same unit-cost definition as Spark's)
    "d_dedup_fuzzy" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b,
                          floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5)
         SELECT id_a, id_b, jaccard,
                CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
         FROM pairs
         JOIN documents da ON id_a = da.doc_id
         JOIN documents db ON id_b = db.doc_id
         WHERE levenshtein(da.text, db.text) <= 8""",
    "d_dedup_embed" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000 + 0.5) / 1000000 AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4""",
    // multi-pass Lloyd replay, CTE-per-pass (see kmeansOracleSql)
    "s_kmeans" -> operators.Similarity.kmeansOracleSql(8, 2),
    // power iteration replayed pass by pass: fixed-point accumulate,
    // list-ordered norm, normalize — the kmeans bridge for PCA
    "s_pca" -> operators.Similarity.pcaOracleSql(3, 64),
    "s_pca_k" -> operators.Similarity.pcaKOracleSql(4, 3, 64),
    "s_pca_project" -> operators.Similarity.pcaProjectOracleSql(4, 3, 64),
    // nearest-centroid classifier mirror: per-class fixed-point means
    // (the coarseCentroids arithmetic), nearest class by cosine with the
    // nearest_cells tie-break (smallest label), confusion-matrix rollup
    "s_classify" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         m AS (SELECT label, i AS pos,
                      sum(CAST(round(list_extract(v, i) * 1073741824.0) AS BIGINT)) AS sx,
                      count(*) AS n
               FROM e CROSS JOIN unnest(generate_series(1, len(v))) AS t(i)
               GROUP BY label, i),
         cents AS (SELECT label AS cell_id, list(CAST(sx AS DOUBLE) / n / 1073741824.0 ORDER BY pos) AS cv
                   FROM m GROUP BY label),
         a AS (SELECT label, cell_id AS pred_label FROM (
                 SELECT e.label, c.cell_id,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cell_id) AS rn
                 FROM e CROSS JOIN cents c) WHERE rn = 1)
         SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
         FROM a GROUP BY label, pred_label""",
    "s_ann_brute" -> bruteTopkSql,
    // greedy MMR unrolled: sel1..sel5 accumulate picks, each step an
    // argmax over the remaining candidates' 0.7·rel − 0.3·max-sim
    "s_mmr" -> mmrSql,
    "s_mmr_ivf" -> mmrIvfSql,
    // LSH mirror: the 4 hyperplanes ride into the SQL as double literals
    // (shortest-round-trip strings parse back to identical IEEE doubles),
    // so bucketing + in-bucket scoring replays exactly in DuckDB.
    "s_ann_lsh" -> {
      val ps = Similarity.planesLiteralSql(4, 64)
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         b AS (SELECT vec_id, v,
                 (CASE WHEN list_dot_product(v, ${ps(0)}) > 0 THEN 1 ELSE 0 END
                + CASE WHEN list_dot_product(v, ${ps(1)}) > 0 THEN 2 ELSE 0 END
                + CASE WHEN list_dot_product(v, ${ps(2)}) > 0 THEN 4 ELSE 0 END
                + CASE WHEN list_dot_product(v, ${ps(3)}) > 0 THEN 8 ELSE 0 END) AS bucket
               FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 5),
         scored AS (SELECT q.query_id, b.vec_id AS neighbor_id,
                           list_dot_product(q.qv, b.v)
                             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
                    FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.query_id),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM scored)
         SELECT query_id, neighbor_id, floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk FROM r WHERE rnk <= 10"""
    },
    // Full IVF mirror: portable-hash seed sample -> one Lloyd pass
    // (fixed-point 2^30 coordinate sums) -> nearest-cell assignment ->
    // probe-join -> top-k. Every stage uses the same arithmetic shape as
    // the Spark side (dot / (sqrt(dot)*sqrt(dot)), scaled-long means),
    // so even the ANN index is value-verified, not rows-only.
    "s_ann_ivf" -> ivfTopkSql,
    // upserted-index search == rebuild against the same frozen
    // centroids (the chain's centroid stages filtered to the base)
    "s_ann_upsert" -> ivfUpsertSql,
    "s_ann_upsert_q" -> ivfUpsertQSql,
    // candidate pick + exact refine replayed end-to-end — the served
    // scores are the brute-force doubles wherever the pools agree
    "s_ann_rerank" -> annRerankSql,
    "s_hard_negatives" -> hardNegSql,
    "s_hard_negatives_ivf" -> hardNegIvfSql,
    // recall@k of the probed search vs the exact top-k: both sides are
    // the SAME replays the gate already value-checks, composed — the
    // index-quality number measured each round instead of assumed
    // rank-aware index quality: harmonic-discount nDCG@10, every
    // weight the exact integer 27720/(p+1) (lcm(2..11) = 27720), dcg
    // and idcg integer sums, ONE closing double division — no libm in
    // a hashed output (the q_benford rationale)
    "s_ndcg" ->
      (s"WITH brute AS ($bruteTopkSql),\n ivf AS ($ivfTopkSql),\n" +
        """j AS (SELECT i.query_id, i.rnk AS pos,
                  coalesce(11 - b.rnk, 0) AS rel
           FROM ivf i LEFT JOIN brute b
             ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id),
         d AS (SELECT query_id, sum(rel * (27720 // (pos + 1))) AS dcg_scaled
               FROM j GROUP BY query_id),
         id AS (SELECT query_id,
                       sum((11 - rnk) * (27720 // (rnk + 1))) AS idcg_scaled
                FROM brute GROUP BY query_id)
         SELECT id.query_id,
                CAST(coalesce(d.dcg_scaled, 0) AS BIGINT) AS dcg_scaled,
                CAST(id.idcg_scaled AS BIGINT) AS idcg_scaled,
                floor(CAST(coalesce(d.dcg_scaled, 0) AS DOUBLE)
                      / CAST(id.idcg_scaled AS DOUBLE) * 1000000 + 0.5)
                  / 1000000 AS ndcg
         FROM id LEFT JOIN d ON id.query_id = d.query_id"""),
    "s_ann_recall" ->
      (s"WITH brute AS ($bruteTopkSql),\n ivf AS ($ivfTopkSql)\n" +
        """SELECT b.query_id,
                  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                  CAST(count(*) AS BIGINT) AS n_true,
                  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS recall
           FROM brute b
           LEFT JOIN ivf i ON b.query_id = i.query_id
                          AND b.neighbor_id = i.neighbor_id
           GROUP BY b.query_id"""),
    // SemDeDup mirror: same centroid pipeline, intra-cell pair scoring
    "d_dedup_semantic" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
                   ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
                   LIMIT 16),
         a1 AS (SELECT vec_id, v, cell_id FROM (
                  SELECT e.vec_id, e.v, s.cell_id,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, s.cv)
                             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                           s.cell_id) AS rn
                  FROM e CROSS JOIN seeds s) WHERE rn = 1),
         m AS (SELECT cell_id, i AS pos,
                      sum(CAST(round(list_extract(v, i) * 1073741824.0) AS BIGINT)) AS sx,
                      count(*) AS n
               FROM a1 CROSS JOIN unnest(generate_series(1, len(v))) AS t(i)
               GROUP BY cell_id, i),
         cents AS (SELECT cell_id, list(CAST(sx AS DOUBLE) / n / 1073741824.0 ORDER BY pos) AS cv
                   FROM m GROUP BY cell_id),
         a2 AS (SELECT vec_id, v, cell_id FROM (
                  SELECT e.vec_id, e.v, c.cell_id,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, c.cv)
                             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           c.cell_id) AS rn
                  FROM e CROSS JOIN cents c) WHERE rn = 1),
         pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                          list_dot_product(a.v, b.v)
                            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
                   FROM a2 a JOIN a2 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, floor(cos * 1000000 + 0.5) / 1000000 AS cos
         FROM pairs WHERE cos >= 0.4""",
    "t_token_count" ->
      """SELECT doc_id,
                len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS bpe_tokens
         FROM documents""",
    // Gopher rules: every threshold is cross-multiplied integers, so
    // each boolean replays exactly
    "t_gopher_rules" ->
      """WITH b AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk,
                  length(regexp_replace(text, '\s', '', 'g')) AS swl,
                  length(text) - length(replace(text, '#', ''))
                    + (length(text) - length(replace(text, '...', ''))) // 3 AS nsym
           FROM documents),
         c AS (SELECT doc_id, len(tk) AS nw, swl, nsym,
                      len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha,
                      len(list_filter(['the','a','of','and','to','is','in','that','it','as'],
                          s -> list_contains(tk, s))) AS nstop
               FROM b)
         SELECT doc_id,
                nw BETWEEN 50 AND 100000 AS r_word_count,
                swl >= nw * 3 AND swl <= nw * 10 AS r_mean_word_len,
                nsym * 10 < nw AS r_symbol_ratio,
                nalpha * 5 > nw * 4 AS r_alpha_words,
                nstop >= 2 AS r_stopwords,
                (nw BETWEEN 50 AND 100000) AND (swl >= nw * 3 AND swl <= nw * 10)
                  AND (nsym * 10 < nw) AND (nalpha * 5 > nw * 4) AND (nstop >= 2) AS pass
         FROM c""",
    "t_quality" ->
      """WITH b AS (
           SELECT doc_id, length(text) AS n_chars_text,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_words,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
                  len(list_filter(regexp_split_to_array(text, '\s+'),
                      x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS stop_hits
           FROM documents)
         SELECT doc_id, n_chars_text, n_words,
                floor(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) * 1000000 + 0.5) / 1000000 AS avg_word_len,
                floor(CAST(n_punct AS DOUBLE) / greatest(n_chars_text, 1) * 1000000 + 0.5) / 1000000 AS punct_ratio,
                floor(CAST(stop_hits AS DOUBLE) / greatest(n_words, 1) * 1000000 + 0.5) / 1000000 AS stop_ratio,
                floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1) * 0.4
                      + least(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) / 10.0, 1.0) * 0.3
                      + (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars_text, 1)) * 0.3)
                      * 1000000 + 0.5) / 1000000 AS quality_score
         FROM b""",
    // 3 GD steps unrolled as CTEs (the pagerank-oracle pattern): each
    // iteration's weights are scalar columns cross-joined back into the
    // feature frame; the rational sigmoid and fixed-point nano-unit
    // gradient sums replay Spark's arithmetic to the bit
    "t_quality_model" ->
      s"""WITH f AS ($QualityFeatureSql),
         nn AS (SELECT count(*) AS n FROM f),
         za AS (SELECT y, x1, x2, x3,
                       0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3 AS z FROM f),
         ga AS (SELECT $GradSumSql FROM za),
         wa AS (SELECT 0.0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       0.0 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       0.0 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       0.0 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM ga, nn),
         zb AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wa),
         gb AS (SELECT $GradSumSql FROM zb),
         wb AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gb, wa, nn),
         zc AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wb),
         gc AS (SELECT $GradSumSql FROM zc),
         wc AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gc, wb, nn),
         zf AS (SELECT y, w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wc),
         ac AS (SELECT CAST(sum(CASE WHEN ((0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5) = (y = 1.0)
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE) AS acc,
                       CAST(count(*) AS DOUBLE) AS nd
                FROM zf)
         SELECT term, floor(value * 1000000 + 0.5) / 1000000 AS value FROM (
           SELECT 'acc' AS term, acc AS value FROM ac
           UNION ALL SELECT 'bias', w0 FROM wc
           UNION ALL SELECT 'n_docs', nd FROM ac
           UNION ALL SELECT 'w_alpha', w3 FROM wc
           UNION ALL SELECT 'w_stop', w2 FROM wc
           UNION ALL SELECT 'w_words', w1 FROM wc)
         ORDER BY term""",
    // same unrolled training, then the map-only scorer over doc ids
    "t_quality_scores" -> QualityScoresSql,
    // the reliability card: same trained weights, labeled rows, the
    // integer-exact decile fold
    "t_quality_calibration" -> QualityCalibrationSql,
    // the ranking card: the same scored rows through the q_mwu
    // distinct-grain rank machinery, one closing division
    "t_quality_auc" -> QualityAucSql,
    // the streaming gate is stateless, so its emitted multiset is the
    // batch scorer + threshold exactly
    "d_quality_stream" ->
      s"""SELECT * FROM ($QualityScoresSql) g WHERE p_keep >= 0.5""",
    // BM25 replayed term-exact: fixed-order per-term sum, the same ln
    // idf shape, floor-rounded score as the rank key; the indexed and
    // upserted forms are exact re-arrangements of the same statistics,
    // so all three share the oracle
    "t_bm25" -> bm25Sql,
    "t_mlt" -> operators.TextAnalysis.mltOracleSql(42L),
    "fs_bm25_indexed" -> bm25Sql,
    "fs_bm25_upsert" -> bm25Sql,
    "d_index_maint" -> bm25Sql,
    // adjacency as list_contains arithmetic over ordinality-derived
    // positions; the identical BM25 tail with the phrase pseudo-term
    "t_bm25_phrase" ->
      operators.TextAnalysis.bm25PhraseOracleSql(Seq("data", "join")),
    "fs_bm25_phrase_idx" ->
      operators.TextAnalysis.bm25PhraseOracleSql(Seq("data", "join")),
    // the streamed index serves the same scores as the direct scan
    "d_index_stream" -> bm25Sql,
    // the bloom MV's read is semantically exact: candidates minus the
    // ingested log — a lost bit (false negative) would add a row here
    "e_bloom_stream" ->
      """SELECT CAST(i * 499 AS BIGINT) AS cand_id
         FROM (SELECT unnest(generate_series(0, 39)) AS i)
         WHERE CAST(i * 499 AS BIGINT) NOT IN (SELECT event_id FROM events)""",
    "t_lang_id" ->
      """WITH t AS (SELECT doc_id, lang AS declared_lang,
                list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         h AS (SELECT doc_id, declared_lang,
                 len(list_filter(w, x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS h_en,
                 len(list_filter(w, x -> x IN ('el','la','de','y','que','en','los','se','del','las'))) AS h_es,
                 len(list_filter(w, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))) AS h_fr,
                 len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','den','im','ein'))) AS h_de,
                 len(list_filter(w, x -> x IN ('的','是','在','了','和','有','我','他','这','中'))) AS h_zh
               FROM t)
         SELECT doc_id, declared_lang, h_en, h_es, h_fr, h_de, h_zh,
                CASE WHEN h_en >= greatest(h_es, h_fr, h_de, h_zh) THEN 'en'
                     WHEN h_es >= greatest(h_fr, h_de, h_zh) THEN 'es'
                     WHEN h_fr >= greatest(h_de, h_zh) THEN 'fr'
                     WHEN h_de >= h_zh THEN 'de'
                     ELSE 'zh' END AS pred_lang
         FROM h""",
    // per-source dashboard: same signal CTE + md5 dup grouping
    "d_source_stats" ->
      """WITH sig AS (
           SELECT doc_id, source, n_chars, text,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS nw,
                  length(text) AS nc,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS h_en
           FROM documents),
         scored AS (
           SELECT doc_id, source, n_chars,
                  CAST(h_en AS DOUBLE) / greatest(nw, 1) * 0.4
                    + least(CAST(na AS DOUBLE) / greatest(nw, 1) / 10.0, 1.0) * 0.3
                    + (1.0 - CAST(np AS DOUBLE) / greatest(nc, 1)) * 0.3 AS qs
           FROM sig),
         dup AS (SELECT source, CAST(sum(n) - count(*) AS BIGINT) AS n_dups FROM (
                   SELECT source, md5(text) AS h, count(*) AS n FROM documents GROUP BY 1, 2)
                 GROUP BY source),
         agg AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS total_chars,
                  floor((CAST(sum(CAST(floor(qs * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                         / 1000000.0 / count(*)) * 1000000 + 0.5) / 1000000 AS mean_quality
           FROM scored GROUP BY source)
         SELECT a.source, a.n_docs, a.total_chars, a.mean_quality, d.n_dups,
                floor((CAST(d.n_dups AS DOUBLE) / a.n_docs) * 1000000 + 0.5) / 1000000 AS dup_rate
         FROM agg a JOIN dup d ON a.source = d.source""",
    // confusion-matrix rollup of the same prediction CTE
    "t_lang_confusion" ->
      """WITH t AS (SELECT doc_id, lang AS declared_lang,
                list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         h AS (SELECT doc_id, declared_lang,
                 len(list_filter(w, x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS h_en,
                 len(list_filter(w, x -> x IN ('el','la','de','y','que','en','los','se','del','las'))) AS h_es,
                 len(list_filter(w, x -> x IN ('le','la','de','et','les','des','un','une','du','que'))) AS h_fr,
                 len(list_filter(w, x -> x IN ('der','die','das','und','ist','von','mit','den','im','ein'))) AS h_de,
                 len(list_filter(w, x -> x IN ('的','是','在','了','和','有','我','他','这','中'))) AS h_zh
               FROM t),
         p AS (SELECT declared_lang,
                CASE WHEN h_en >= greatest(h_es, h_fr, h_de, h_zh) THEN 'en'
                     WHEN h_es >= greatest(h_fr, h_de, h_zh) THEN 'es'
                     WHEN h_fr >= greatest(h_de, h_zh) THEN 'fr'
                     WHEN h_de >= h_zh THEN 'de'
                     ELSE 'zh' END AS pred_lang
               FROM h)
         SELECT declared_lang, pred_lang, count(*) AS n_docs
         FROM p GROUP BY declared_lang, pred_lang""",
    "m_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h,
                n_chars % 640 AS width, n_chars % 480 AS height
         FROM documents""",
    // the decoded dims of the real PNG payloads are fully determined by
    // the planted geometry — the codec must round-trip them exactly
    "m_decode" ->
      """SELECT doc_id, 8 + n_chars % 57 AS width, 8 + n_chars % 31 AS height,
                (8 + n_chars % 57) * (8 + n_chars % 31) AS n_pixels
         FROM documents""",
    "m_audio" ->
      """SELECT doc_id, 8000 AS sample_rate, 1 AS channels, 16 AS bits,
                100 + n_chars % 1000 AS n_frames,
                (100 + n_chars % 1000) * 125 AS duration_us
         FROM documents""",
    "m_phash_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM documents a JOIN documents b
           ON a.doc_id // 2 = b.doc_id // 2 AND a.doc_id < b.doc_id""",
    "q_argmin" ->
      """SELECT p.p_brand, p.p_partkey, p.p_retailprice AS min_price
         FROM part p
         JOIN (SELECT p_brand, min(p_retailprice) AS mp FROM part GROUP BY p_brand) m
           ON p.p_brand = m.p_brand AND p.p_retailprice = m.mp""",
    "q_histogram" ->
      """SELECT floor(o_totalprice / 10000.0) * CAST(10000.0 AS DOUBLE) AS bin_low,
                count(*) AS cnt
         FROM orders GROUP BY 1""",
    "q_outer_join" ->
      """WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier GROUP BY 1)
         SELECT coalesce(ck, sk) AS nationkey,
                coalesce(n_cust, 0) AS n_cust,
                coalesce(n_supp, 0) AS n_supp
         FROM c FULL OUTER JOIN s ON ck = sk""",
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                count(*) AS cnt,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    "q_string_agg" ->
      """SELECT l_returnflag,
                string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    "q_ntile" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS quartile
         FROM orders""",
    "q_quantiles" ->
      """SELECT o_orderstatus,
                quantile_cont(o_totalprice, 0.25) AS p25,
                quantile_cont(o_totalprice, 0.5) AS p50,
                quantile_cont(o_totalprice, 0.75) AS p75,
                quantile_cont(o_totalprice, 0.95) AS p95,
                count(*) AS cnt
         FROM orders GROUP BY o_orderstatus""",
    "q_moving_avg" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS cents
              FROM orders GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day,
                CAST(cents AS DOUBLE) / 100.0 AS revenue,
                CAST(sum(cents) OVER w AS DOUBLE) / 100.0 / (count(*) OVER w) AS mov_avg7
         FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    // top-3 VALUES per group are a well-defined multiset even under ties,
    // and the compare is row-multiset-based, so row_number is a safe oracle
    "q_topk_agg" ->
      """SELECT o_custkey, o_totalprice AS price FROM (
           SELECT o_custkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC) AS rnk
           FROM orders) WHERE rnk <= 3""",
    // Q6 shape: cents×cents integer product sum, one division at the end
    "q6_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
                count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
           AND l_discount >= 0.02 AND l_discount <= 0.09 AND l_quantity < 30""",
    // Q14 shape: promo share of discounted revenue (cents sums, one division)
    "q14_promo" ->
      """SELECT floor((CAST(sum(CASE WHEN p_type = 'PROMO'
                                     THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                                     ELSE 0 END) AS DOUBLE) * 100.0
                       / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS promo_pct,
                count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'""",
    // Q10 shape: returned-item revenue per customer, deterministic top 20
    "q10_returns" ->
      """WITH r AS (
           SELECT c_custkey, c_name, c_mktsegment,
                  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE l_returnflag = 'R'
           GROUP BY c_custkey, c_name, c_mktsegment)
         SELECT * FROM r ORDER BY revenue DESC, c_custkey LIMIT 20""",
    // Q12 shape over this schema: late shipments split by order priority
    "q12_late_priority" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
         GROUP BY l_returnflag""",
    "q17_small_qty" ->
      """WITH a AS (SELECT l_partkey AS ap,
                CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty
              FROM lineitem GROUP BY l_partkey)
         SELECT count(*) AS n_small,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         FROM lineitem JOIN a ON l_partkey = ap AND l_quantity < 0.2 * avg_qty""",
    // DuckDB sum() over integers yields HUGEINT, which pandas-based harnesses
    // render as float ("5.0" vs Spark's LONG "5") — every integer sum must be
    // CAST(... AS BIGINT). Same constraint applies to e_sessionize's session_id.
    "q_pivot" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY user_id""",
    // bottom-k sample mirror: hash-ordered rank <= k is the sample;
    // min(val) per hash first so a hash collision resolves identically
    // in both engines; type-7 interpolation with matching expression shape
    "q_qsketch" -> qsketchSql,
    // q_sketch on the PORTABLE kernels (round 14): KMV k=512 distinct
    // estimates + bottom-256 sample median, every hash and every
    // interpolation step replayed verbatim — the estimator arithmetic
    // is the q_kmv / q_qsketch mirror with the entry's column names
    "q_sketch" ->
      """WITH hp AS (SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM lineitem),
         rp AS (SELECT l_returnflag, h,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS d FROM hp),
         p AS (SELECT l_returnflag,
               CASE WHEN max(d) < 512 THEN CAST(max(d) AS DOUBLE)
                    ELSE 511.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(max(CASE WHEN rn = 512 THEN h END) AS DOUBLE) END AS approx_parts
           FROM rp GROUP BY l_returnflag),
         hs AS (SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM lineitem),
         rs AS (SELECT l_returnflag, h,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS d FROM hs),
         s AS (SELECT l_returnflag,
               CASE WHEN max(d) < 512 THEN CAST(max(d) AS DOUBLE)
                    ELSE 511.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(max(CASE WHEN rn = 512 THEN h END) AS DOUBLE) END AS approx_supps
           FROM rs GROUP BY l_returnflag),
         hx AS (SELECT l_returnflag,
                  CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                  l_extendedprice AS val
           FROM lineitem),
         dd AS (SELECT l_returnflag, hsh, min(val) AS val FROM hx GROUP BY l_returnflag, hsh),
         r AS (SELECT l_returnflag, val,
                      row_number() OVER (PARTITION BY l_returnflag ORDER BY hsh) AS rn
               FROM dd),
         sq AS (SELECT l_returnflag, list(val ORDER BY val) AS vals,
                       CAST(count(*) AS BIGINT) AS n_sample
                FROM r WHERE rn <= 256 GROUP BY l_returnflag),
         q AS (SELECT l_returnflag, vals, n_sample,
                      0.5 * (CAST(n_sample AS DOUBLE) - 1.0) AS h50
               FROM sq),
         q2 AS (SELECT l_returnflag, vals, h50,
                       CAST(floor(h50) AS BIGINT) AS lo50,
                       least(CAST(floor(h50) AS BIGINT) + 1, n_sample - 1) AS hi50
                FROM q),
         m AS (SELECT l_returnflag,
                      floor((list_extract(vals, lo50 + 1)
                             + (h50 - lo50) * (list_extract(vals, hi50 + 1) - list_extract(vals, lo50 + 1)))
                            * 1000000 + 0.5) / 1000000 AS approx_median_price
               FROM q2)
         SELECT p.l_returnflag, approx_parts, approx_supps, approx_median_price
         FROM p JOIN s ON p.l_returnflag = s.l_returnflag
                JOIN m ON p.l_returnflag = m.l_returnflag""",
    // the SAME from-scratch rebuild checks the incrementally refreshed
    // sketch state: bottom-k merge is lossless, so batch boundaries
    // are invisible in the estimates
    "fs_incr_qsketch" -> qsketchSql,
    // the streamed twin over events: per-type value percentiles from
    // the stream-folded bottom-k state == the whole-log rebuild
    // numeric drift: BOTH cohort samples rebuilt from the whole log
    // (bottom-256 by the md5 portable hash, min-val per hash), ref
    // deciles at rank ceil(d·n/10), CDFs at those values, shift as the
    // exact integer cross-multiply with one closing division
    "e_drift_numeric" ->
      """WITH hx AS (SELECT user_id % 2 AS c,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                     value AS val
              FROM events),
         d AS (SELECT c, hsh, min(val) AS val FROM hx GROUP BY c, hsh),
         r AS (SELECT c, val, row_number() OVER (PARTITION BY c ORDER BY hsh) AS rn FROM d),
         smp AS (SELECT c, val FROM r WHERE rn <= 256),
         n AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM smp GROUP BY c),
         rk AS (SELECT c, val, row_number() OVER (PARTITION BY c ORDER BY val) AS rnk FROM smp),
         dec AS (SELECT CAST(t.i AS BIGINT) AS decile FROM unnest(generate_series(1, 9)) AS t(i)),
         vd AS (SELECT dec.decile, rk.val AS ref_value
                FROM rk JOIN n ON n.c = 0 AND rk.c = 0
                CROSS JOIN dec
                WHERE rk.rnk = (dec.decile * n.n + 9) // 10),
         cdf AS (SELECT vd.decile, vd.ref_value,
                   CAST(sum(CASE WHEN smp.c = 0 AND smp.val <= vd.ref_value THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
                   CAST(sum(CASE WHEN smp.c = 1 AND smp.val <= vd.ref_value THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
                 FROM smp CROSS JOIN vd GROUP BY 1, 2),
         nn AS (SELECT max(CASE WHEN c = 0 THEN n END) AS n_ref,
                       max(CASE WHEN c = 1 THEN n END) AS n_cur FROM n),
         card AS (SELECT decile, ref_value,
                   floor(CAST(c_ref AS DOUBLE) / CAST(n_ref AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cdf_ref,
                   floor(CAST(c_cur AS DOUBLE) / CAST(n_cur AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cdf_cur,
                   floor(CAST(abs(c_ref * n_cur - c_cur * n_ref) AS DOUBLE)
                         / CAST(n_ref * n_cur AS DOUBLE) * 1000000 + 0.5) / 1000000 AS shift
                 FROM cdf, nn)
         SELECT decile, ref_value, cdf_ref, cdf_cur, shift,
                (SELECT max(shift) FROM card) AS ks
         FROM card""",
    "e_qsketch_stream" ->
      """WITH hx AS (SELECT event_type,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                     value AS val
              FROM events),
         d AS (SELECT event_type, hsh, min(val) AS val FROM hx GROUP BY event_type, hsh),
         r AS (SELECT event_type, val,
                      row_number() OVER (PARTITION BY event_type ORDER BY hsh) AS rn
               FROM d),
         s AS (SELECT event_type, list(val ORDER BY val) AS vals, CAST(count(*) AS BIGINT) AS n_sample
               FROM r WHERE rn <= 256 GROUP BY event_type),
         q AS (SELECT event_type, vals, n_sample,
                      0.5 * (CAST(n_sample AS DOUBLE) - 1.0) AS h50,
                      0.95 * (CAST(n_sample AS DOUBLE) - 1.0) AS h95
               FROM s),
         q2 AS (SELECT event_type, vals, n_sample, h50, h95,
                       CAST(floor(h50) AS BIGINT) AS lo50,
                       least(CAST(floor(h50) AS BIGINT) + 1, n_sample - 1) AS hi50,
                       CAST(floor(h95) AS BIGINT) AS lo95,
                       least(CAST(floor(h95) AS BIGINT) + 1, n_sample - 1) AS hi95
                FROM q)
         SELECT event_type, n_sample,
                floor((list_extract(vals, lo50 + 1)
                       + (h50 - lo50) * (list_extract(vals, hi50 + 1) - list_extract(vals, lo50 + 1)))
                      * 1000000 + 0.5) / 1000000 AS p50_est,
                floor((list_extract(vals, lo95 + 1)
                       + (h95 - lo95) * (list_extract(vals, hi95 + 1) - list_extract(vals, lo95 + 1)))
                      * 1000000 + 0.5) / 1000000 AS p95_est
         FROM q2""",
    // the streamed drift card == the whole-log rebuild (counts are
    // algebraic); same exact TVD math as d_drift
    "e_drift_stream" ->
      """WITH j AS (SELECT event_type AS cat,
                    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_b,
                    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_c
             FROM events GROUP BY event_type),
         t AS (SELECT sum(n_b) AS tot_b, sum(n_c) AS tot_c FROM j),
         d AS (SELECT cat, n_b, n_c, tot_b, tot_c,
                      abs(n_b * tot_c - n_c * tot_b) AS diff FROM j, t),
         r AS (SELECT *, row_number() OVER (ORDER BY diff DESC, cat DESC) AS rn
               FROM d),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_cat,
                      CAST(min(tot_b) AS BIGINT) AS base_n,
                      CAST(min(tot_c) AS BIGINT) AS cur_n,
                      sum(diff) AS sum_diff FROM d)
         SELECT 'event_type' AS feature, g.n_cat, g.base_n, g.cur_n,
                floor(CAST(g.sum_diff AS DOUBLE)
                      / (2.0 * g.base_n * g.cur_n) * 1000000.0 + 0.5)
                  / 1000000.0 AS tvd,
                r.cat AS top_category,
                floor(CAST(r.diff AS DOUBLE)
                      / (CAST(g.base_n AS DOUBLE) * CAST(g.cur_n AS DOUBLE))
                      * 1000000.0 + 0.5) / 1000000.0 AS top_shift
         FROM g, r WHERE r.rn = 1""",
    "e_lead_lag" ->
      """WITH u AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events)
         SELECT user_id, event_id,
                CAST(tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS BIGINT) AS gap_prev_us,
                CAST(lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - tsu AS BIGINT) AS gap_next_us
         FROM u""",
    // dense per-user hour grid via generate_series; zero-filled left join
    "e_resample" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr, count(*) AS cnt
                    FROM events GROUP BY user_id, epoch_us(ts) // 3600000000),
         g AS (SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
               FROM c GROUP BY user_id)
         SELECT g.user_id, CAST(g.hr AS BIGINT) AS hr,
                CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
         FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.hr = c.hr""",
    "q_unpivot" ->
      """WITH p AS (SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
           FROM events GROUP BY user_id)
         SELECT user_id, 'click' AS event_type, click AS cnt FROM p
         UNION ALL SELECT user_id, 'error', error FROM p
         UNION ALL SELECT user_id, 'purchase', purchase FROM p
         UNION ALL SELECT user_id, 'signup', signup FROM p
         UNION ALL SELECT user_id, 'view', view FROM p""",
    // KMV sketch mirror: k-th smallest distinct portable hash per group.
    // KMV set algebra: union sketch = k smallest of merged buffers;
    // Jaccard = fraction of union k-mins in BOTH sides; |A∩B| = J·|A∪B|.
    // Deterministic hashes → the whole estimator replays exactly.
    "q_kmv_join" ->
      """WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM lineitem),
         ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         hb AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM part),
         kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 256),
         sa AS (SELECT count(*) AS n, max(h) AS hk FROM ka),
         sb AS (SELECT count(*) AS n, max(h) AS hk FROM kb),
         su AS (SELECT count(*) AS n, max(h) AS hk FROM un),
         nb AS (SELECT count(*) AS n FROM un
                WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
         SELECT
           floor((CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
                       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sa.hk AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS est_left,
           floor((CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
                       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sb.hk AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS est_right,
           floor((CAST(nb.n AS DOUBLE) / su.n) * 1000000 + 0.5) / 1000000 AS est_jaccard,
           floor(((CAST(nb.n AS DOUBLE) / su.n) *
                  (CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
                        ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(su.hk AS DOUBLE) END)) * 1000000 + 0.5) / 1000000 AS est_intersection
         FROM sa, sb, su, nb""",
    // naive quadratic dominance — deliberately the OPPOSITE plan of the
    // Spark side's two-phase prefix-min scan
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey,
                CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
                CAST(p_size AS BIGINT) AS size
           FROM part)
         SELECT p_partkey, price_cents, size FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.price_cents <= a.price_cents AND b.size <= a.size
             AND (b.price_cents < a.price_cents OR b.size < a.size))""",
    // the set-ops card: same sketch replay plus union + clamped
    // inclusion-exclusion differences ON THE ROUNDED estimates
    "q_kmv_setops" ->
      """WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM lineitem),
         ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         hb AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM part),
         kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 256),
         sa AS (SELECT count(*) AS n, max(h) AS hk FROM ka),
         sb AS (SELECT count(*) AS n, max(h) AS hk FROM kb),
         su AS (SELECT count(*) AS n, max(h) AS hk FROM un),
         nb AS (SELECT count(*) AS n FROM un
                WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
         est AS (SELECT
           floor((CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
                       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sa.hk AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS est_left,
           floor((CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
                       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sb.hk AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS est_right,
           floor((CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
                       ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(su.hk AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS est_union,
           floor(((CAST(nb.n AS DOUBLE) / su.n) *
                  (CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
                        ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(su.hk AS DOUBLE) END)) * 1000000 + 0.5) / 1000000 AS est_intersection
           FROM sa, sb, su, nb)
         SELECT est_left, est_right, est_union, est_intersection,
                greatest(est_left - est_intersection, CAST(0.0 AS DOUBLE)) AS est_left_only,
                greatest(est_right - est_intersection, CAST(0.0 AS DOUBLE)) AS est_right_only
         FROM est""",
    // 2^60 is a power of two (double-exact); the arithmetic shape matches
    // the Spark side verbatim so the IEEE result is bit-identical.
    // the stream-maintained CMS state must equal the batch sketch —
    // same counters CTE over events, probes on user ids 1..10
    "e_cms_stream" ->
      """WITH c AS (SELECT j,
                CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket,
                count(*) AS cnt
           FROM events CROSS JOIN unnest(generate_series(0, 3)) AS t(j)
           GROUP BY 1, 2),
         k AS (SELECT g AS user_id FROM generate_series(1, 10) AS s(g)),
         p AS (SELECT user_id, j,
                CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket
               FROM k CROSS JOIN unnest(generate_series(0, 3)) AS t(j)),
         e AS (SELECT user_id, min(coalesce(cnt, 0)) AS est
               FROM p LEFT JOIN c USING (j, bucket) GROUP BY 1),
         x AS (SELECT user_id, count(*) AS exact
               FROM events WHERE user_id <= 10 GROUP BY 1)
         SELECT e.user_id, CAST(e.est AS BIGINT) AS est,
                CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
                CAST(e.est - coalesce(x.exact, 0) AS BIGINT) AS overcount
         FROM e LEFT JOIN x ON e.user_id = x.user_id""",
    // every CMS counter replays via the same md5-prefix hash; the
    // estimate is a min over d bounded counter lookups
    "q_cms" ->
      """WITH c AS (SELECT j,
                CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket,
                count(*) AS cnt
           FROM lineitem CROSS JOIN unnest(generate_series(0, 3)) AS t(j)
           GROUP BY 1, 2),
         k AS (SELECT g AS l_partkey FROM generate_series(1, 10) AS s(g)),
         p AS (SELECT l_partkey, j,
                CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket
               FROM k CROSS JOIN unnest(generate_series(0, 3)) AS t(j)),
         e AS (SELECT l_partkey, min(coalesce(cnt, 0)) AS est
               FROM p LEFT JOIN c USING (j, bucket) GROUP BY 1),
         x AS (SELECT l_partkey, count(*) AS exact
               FROM lineitem WHERE l_partkey <= 10 GROUP BY 1)
         SELECT e.l_partkey, CAST(e.est AS BIGINT) AS est,
                CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
                CAST(e.est - coalesce(x.exact, 0) AS BIGINT) AS overcount
         FROM e LEFT JOIN x ON e.l_partkey = x.l_partkey""",
    "q_kmv" ->
      """WITH hp AS (SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM lineitem),
         rp AS (SELECT l_returnflag, h,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS d FROM hp),
         p AS (SELECT l_returnflag,
               CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS hk_parts,
               CASE WHEN max(d) < 64 THEN CAST(max(d) AS DOUBLE)
                    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE) END AS est_parts
           FROM rp GROUP BY l_returnflag),
         hs AS (SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM lineitem),
         rs AS (SELECT l_returnflag, h,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS d FROM hs),
         s AS (SELECT l_returnflag,
               CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS hk_supps,
               CASE WHEN max(d) < 64 THEN CAST(max(d) AS DOUBLE)
                    ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE) END AS est_supps
           FROM rs GROUP BY l_returnflag)
         SELECT p.l_returnflag, hk_parts, est_parts, hk_supps, est_supps
         FROM p JOIN s ON p.l_returnflag = s.l_returnflag""",
    "e_range_join" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         p AS (SELECT user_id, tsu AS purchase_us FROM e WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user, tsu AS view_us FROM e WHERE event_type = 'view')
         SELECT user_id, purchase_us, count(view_us) AS n_views
         FROM p LEFT JOIN v
           ON user_id = v_user
          AND view_us >= purchase_us - 600000000
          AND view_us < purchase_us
         GROUP BY user_id, purchase_us""",
    "d_boilerplate" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3)
         SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle
         HAVING count(*) >= 3""",
    "p_split" ->
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'cc' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""",
    "p_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':sample:' || lang), 1, 1) < '4'""",
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS day,
                CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS running_rev
         FROM orders""",
    "t_bigram_lm" ->
      """WITH tok AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
                      FROM documents),
         bg AS (SELECT list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         pair AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2),
         head AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM pair GROUP BY w1)
         SELECT pair.w1, w2, n12, n1,
                floor(CAST(n12 AS DOUBLE) / n1 * 1000000 + 0.5) / 1000000 AS p_cond
         FROM pair JOIN head ON pair.w1 = head.w1
         WHERE n12 >= 2""",
    // integer chunk count (n-16+47)//48; DuckDB list slice is inclusive
    // 1-based, Spark slice(start, length) — end = start+63 matches
    "t_chunk" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         t AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
         c AS (SELECT doc_id, w, n,
                      unnest(generate_series(0, greatest((n - 16 + 47) // 48, 1) - 1)) AS chunk_id
               FROM t)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(len(w[(chunk_id * 48 + 1):(chunk_id * 48 + 64)]) AS BIGINT) AS n_chunk_tokens,
                md5(array_to_string(w[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ')) AS chunk_hash
         FROM c""",
    // BPE fitting: the oracle replays the 8 greedy rounds as chained
    // CTEs (argmax with the identical total-order tie-break; the merge
    // fold is a list_reduce over a chr(31)-delimited accumulator)
    "t_bpe_train" -> operators.Bpe.mergesOracleSql(8),
    "t_bpe_train_eow" -> operators.Bpe.mergesOracleSql(8, eow = true),
    "t_bpe_vocab" -> operators.Bpe.vocabOracleSql(8),
    // cross-set exact Jaccard (even-id corpus vs odd-id batch): the
    // banded candidates, once verified, must reproduce it exactly —
    // same equivalence the full-set d_dedup_minhash oracle asserts
    "d_dedup_incr" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS corpus_id, b.doc_id AS new_id, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle
                    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
                   GROUP BY 1, 2)
         SELECT corpus_id, new_id,
                floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
         FROM inter JOIN sizes sa ON corpus_id = sa.doc_id JOIN sizes sb ON new_id = sb.doc_id
         WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5""",
    "p_wsample" ->
      """WITH m AS (SELECT max(n_chars) AS mw FROM documents)
         SELECT doc_id, n_chars FROM documents, m
         WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 15) AS BIGINT) AS DOUBLE)
               < CAST(n_chars AS DOUBLE) / CAST(mw AS DOUBLE) * 1152921504606846976.0""",
    // window sums over BIGINT are HUGEINT in DuckDB → CAST (see q_pivot note)
    "p_pack" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 15) AS BIGINT) AS h
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                                           ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS global_start
           FROM s)
         SELECT doc_id, n_tokens, global_start,
                CAST(global_start // 2048 AS BIGINT) AS seq_id
         FROM c""",
    // best-first budget fill: quality micro-units packed with doc_id
    // into one collision-free BIGINT order key, cumulative token sum,
    // prefix cut at the budget
    "p_token_budget" ->
      """WITH b AS (
           SELECT doc_id, length(text) AS n_chars_text,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_words,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
                  len(list_filter(regexp_split_to_array(text, '\s+'),
                      x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS stop_hits
           FROM documents),
         q AS (
           SELECT doc_id, n_words AS ws_tokens,
                  floor((CAST(stop_hits AS DOUBLE) / greatest(n_words, 1) * 0.4
                        + least(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) / 10.0, 1.0) * 0.3
                        + (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars_text, 1)) * 0.3)
                        * 1000000 + 0.5) / 1000000 AS quality_score
           FROM b),
         k AS (
           SELECT doc_id, quality_score, ws_tokens,
                  (2000000 - CAST(round(quality_score * 1000000) AS BIGINT))
                    * 10000000000 + doc_id AS key
           FROM q)
         SELECT doc_id, quality_score, ws_tokens, cum_tokens FROM (
           SELECT doc_id, quality_score, ws_tokens,
                  CAST(sum(ws_tokens) OVER (ORDER BY key
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM k)
         WHERE cum_tokens <= 12000""",
    "p_shuffle" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15) AS BIGINT) AS h
           FROM documents)
         SELECT doc_id,
                CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
                CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 1000 AS BIGINT) AS shard
         FROM s""",
    // per-side row_number in the same md5 order, then pure slot
    // arithmetic: period 4, side a slots {0,1,2}, side b slot {3}
    "p_interleave" ->
      """WITH a AS (SELECT doc_id,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15) AS BIGINT) AS h
           FROM documents WHERE source <> 'src0'),
         ra AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos FROM a),
         b AS (SELECT doc_id,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15) AS BIGINT) AS h
           FROM documents WHERE source = 'src0'),
         rb AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos FROM b)
         SELECT doc_id, 'a' AS side,
                CAST(pos // 3 * 4 + pos % 3 AS BIGINT) AS slot FROM ra
         UNION ALL
         SELECT doc_id, 'b' AS side,
                CAST(pos * 4 + 3 AS BIGINT) AS slot FROM rb""",
    // the manifest mirrors p_shuffle's assignment, then one group-by
    "p_manifest" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 15) AS BIGINT) AS h
           FROM documents),
         o AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
                      CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 100 AS BIGINT) AS shard
               FROM s),
         t AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc,
                      CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
               FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                min(pos) AS pos_lo, max(pos) AS pos_hi
         FROM t JOIN o USING (doc_id) GROUP BY shard""",
    "t_redact" ->
      """WITH r AS (
           SELECT event_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(props,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                    '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g'),
                    '[0-9]+', '<NUM>', 'g') AS redacted
           FROM events)
         SELECT event_id, redacted,
                CAST(len(regexp_extract_all(redacted, '<[A-Z]+>')) AS BIGINT) AS n_redactions
         FROM r""",
    // independent per-pattern counting on the RAW text (no rule
    // ordering); the patterns are PiiRules' exact email/IP/phone
    // equivalence classes on the QI grid, then one bounded re-agg;
    // the sensitive bit is position('@'), identical in both engines
    "d_kanon" ->
      """WITH c AS (SELECT source, lang, n_chars // 500 AS bucket,
                  count(*) AS sz,
                  count(DISTINCT CASE WHEN position('@' IN text) > 0
                                      THEN 1 ELSE 0 END) AS l
           FROM documents GROUP BY 1, 2, 3)
         SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_classes,
                CAST(min(sz) AS BIGINT) AS min_class_size,
                CAST(coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0) AS BIGINT) AS rows_below_k,
                CAST(coalesce(sum(CASE WHEN sz < 5 THEN 1 END), 0) AS BIGINT) AS classes_below_k,
                floor(CAST(coalesce(sum(CASE WHEN sz >= 5 THEN sz END), 0) AS DOUBLE)
                      / CAST(sum(sz) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS anonymous_frac,
                CAST(min(l) AS BIGINT) AS min_l
         FROM c""",
    // the drift card's exact mirror: integer diff numerator, the same
    // (diff, cat) struct-max tie-break via DESC/DESC row_number
    "d_drift" -> driftSql,
    "d_pii_audit" ->
      """WITH h AS (SELECT event_type,
             CAST(len(regexp_extract_all(props,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS e,
             CAST(len(regexp_extract_all(props,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS i,
             CAST(len(regexp_extract_all(props,
               '\+?[0-9][0-9() -]{6,}[0-9]')) AS BIGINT) AS p
           FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_email,
                CAST(sum(e) AS BIGINT) AS email_hits,
                CAST(sum(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_ip,
                CAST(sum(i) AS BIGINT) AS ip_hits,
                CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_phone,
                CAST(sum(p) AS BIGINT) AS phone_hits
         FROM h GROUP BY event_type""",
    // ratios of exact char-class counts; the flag compares the ROUNDED
    // ratio (cross-engine comparison idiom), emitted as 0/1
    "t_code_detect" ->
      """WITH b AS (SELECT doc_id,
             greatest(length(text), 1) AS nc,
             length(regexp_replace(text, '[^{}();=<>]', '', 'g')) AS sym,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS dig
           FROM documents)
         SELECT doc_id,
                floor(CAST(sym AS DOUBLE) / nc * 1000000 + 0.5) / 1000000 AS sym_ratio,
                floor(CAST(dig AS DOUBLE) / nc * 1000000 + 0.5) / 1000000 AS digit_ratio,
                CAST(CASE WHEN floor(CAST(sym AS DOUBLE) / nc * 1000000 + 0.5) / 1000000
                          >= 0.01 THEN 1 ELSE 0 END AS BIGINT) AS is_code
         FROM b""",
    "t_repetition" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         wtf AS (SELECT doc_id, g, count(*) AS tf
                 FROM (SELECT doc_id, unnest(w) AS g FROM tok) GROUP BY doc_id, g),
         ws AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                       count(*) AS d, max(tf) AS top
                FROM wtf GROUP BY doc_id),
         bg AS (SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i + 1) AS g
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         btf AS (SELECT doc_id, g, count(*) AS tf FROM bg GROUP BY doc_id, g),
         bs AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n2, max(tf) AS top2
                FROM btf GROUP BY doc_id)
         SELECT ws.doc_id, ws.n_tokens,
                floor(CAST(d AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS ttr,
                floor(CAST(top AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS top_word_frac,
                COALESCE(floor(CAST(top2 AS DOUBLE) / n2 * 1000000 + 0.5) / 1000000, 0.0) AS top_2gram_frac
         FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id""",
    // rank over the ROUNDED score (what the Spark side emits), rank
    // cast to BIGINT on both engines
    "t_keyword_topk" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, word,
                floor(tf * (CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5) / 1000000 AS tfidf_lin
           FROM tf JOIN df USING (word) CROSS JOIN n),
         r AS (SELECT doc_id, word, tfidf_lin,
                CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf_lin DESC, word) AS BIGINT) AS rank
           FROM sc)
         SELECT doc_id, word, tfidf_lin, rank FROM r WHERE rank <= 3""",
    "t_tfidf" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, word, tf, df,
                floor(tf * (CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5) / 1000000 AS tfidf_lin
         FROM tf JOIN df USING (word) CROSS JOIN n""",
    // per-token hashes are the md5-derived portable 60-bit hash, so the
    // rolling fingerprint folds identically here (fold = list_reduce with
    // a prepended 0 accumulator)
    "t_fingerprint" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents)
         SELECT doc_id,
                list_reduce(list_prepend(0::BIGINT,
                  list_transform(w, t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1000000007)),
                  (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM tok""",
    // grams restricted to printable ASCII so the compare never rides on
    // unicode case/grapheme dialect; tie order (cnt desc, gram) is total
    "t_char_ngrams" ->
      """WITH d AS (SELECT text AS t FROM documents WHERE length(text) >= 3),
         g AS (SELECT substr(t, CAST(u.i AS INTEGER), 3) AS gram
               FROM d, LATERAL unnest(generate_series(1, length(t) - 2)) AS u(i)),
         f AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
               WHERE regexp_matches(gram, '^[ -~]{3}$') GROUP BY gram),
         r AS (SELECT gram, cnt, row_number() OVER (ORDER BY cnt DESC, gram) AS rk FROM f)
         SELECT gram, cnt, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 40""",
    // brute-force hamming pairs: the Spark side's 4x15-bit banding is
    // lossless at maxHamming=3 (pigeonhole), so all-pairs IS the oracle
    "d_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv FROM tok),
         bits AS (SELECT doc_id, j, sum((hv >> j) & 1) AS ones, count(*) AS n
                  FROM h CROSS JOIN unnest(generate_series(0, 59)) AS t(j)
                  GROUP BY 1, 2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
                 FROM bits GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    "t_normalize" ->
      """SELECT doc_id,
                md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS norm_hash,
                length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS n_chars_norm
         FROM documents""",
    "fs_stats" ->
      """SELECT 'customer' AS tbl, count(*) AS n_rows FROM customer
         UNION ALL SELECT 'documents', count(*) FROM documents
         UNION ALL SELECT 'embeddings', count(*) FROM embeddings
         UNION ALL SELECT 'events', count(*) FROM events
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         UNION ALL SELECT 'nation', count(*) FROM nation
         UNION ALL SELECT 'orders', count(*) FROM orders
         UNION ALL SELECT 'part', count(*) FROM part
         UNION ALL SELECT 'region', count(*) FROM region
         UNION ALL SELECT 'supplier', count(*) FROM supplier""",
    // salted two-stage aggregate must equal the plain GROUP BY exactly
    // (counts and integer-cents sums combine associatively)
    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM lineitem GROUP BY l_returnflag""",
    // the incrementally-refreshed KMV state must equal the from-scratch
    // sketch over ALL history — same md5-prefix hash, same
    // (k-1)·2^60/h_k estimate shape as q_kmv
    "fs_incr_kmv" ->
      """WITH hp AS (SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
           FROM lineitem),
         rp AS (SELECT l_returnflag, h,
                row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS d FROM hp)
         SELECT l_returnflag,
                CAST(max(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS hk_parts,
                CASE WHEN max(d) < 64 THEN CAST(max(d) AS DOUBLE)
                     ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE)
                          / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
                END AS est_parts
         FROM rp GROUP BY l_returnflag""",
    // the salted join's oracle is the PLAIN join (collapsed to the
    // equivalent direct aggregate — the dim holds every flag by
    // construction): the salting must be invisible in the values
    "q_salted_join" ->
      """SELECT concat('flag_', l_returnflag) AS flag_label,
                count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem GROUP BY l_returnflag""",
    // Morton interleave is pure bit arithmetic — identical in any engine
    "fs_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((l_partkey >> $i) & 1) << ${2 * i})",
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS z FROM lineitem"
    },
    // strict-sequence funnel: each stage's min is taken only over events
    // strictly after the previous stage's min
    // path order pinned by (tsu, event_id) on BOTH sides — same-µs
    // events would otherwise make the path string engine-dependent
    "e_paths" ->
      """WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY epoch_us(ts), event_id) AS prev
           FROM events),
         s AS (SELECT user_id, event_id, event_type, tsu,
                      CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                           THEN 1 ELSE 0 END AS is_new
               FROM g),
         t AS (SELECT user_id, event_id, event_type, tsu,
                      sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
               FROM s),
         p AS (SELECT user_id, session_id,
                      string_agg(event_type, '>' ORDER BY tsu, event_id) AS path
               FROM t GROUP BY 1, 2)
         SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY path
         ORDER BY n_sessions DESC, path LIMIT 15""",
    "e_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         s1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND tsu > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND tsu > t2 GROUP BY 1)
         SELECT s1.user_id, t1 AS first_view, t2 AS first_click, t3 AS first_purchase
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    "e_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
         c AS (SELECT user_id, min(wk) AS cw FROM a GROUP BY 1)
         SELECT cw AS cohort_week, wk - cw AS week_offset, count(*) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY 1, 2""",
    // dyadic (α = ½, depth 16) decayed trailing sum: every weight is a
    // power of two, every term an exact integer — the self-join rank
    // formulation here mirrors the Spark side's frame-array fold
    "e_ewma" ->
      """WITH u AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
                CAST(round(value * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
           FROM events)
         SELECT a.user_id, a.event_id,
                CAST(sum(b.cents * (CAST(1 AS BIGINT) << CAST(15 - (a.rn - b.rn) AS INTEGER))) AS BIGINT) AS ewma_scaled,
                CAST(sum(b.cents * (CAST(1 AS BIGINT) << CAST(15 - (a.rn - b.rn) AS INTEGER))) AS DOUBLE) / 32768.0 AS ewma
         FROM u a JOIN u b ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
         GROUP BY a.user_id, a.event_id""",
    // forward fill via the portable fill-group idiom (running count of
    // observations → max within the group) — identical formulation to
    // the Spark plan, no IGNORE NULLS dialect dependence
    "e_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
                CAST(round(value * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events),
         hourly AS (SELECT user_id, hr, cents FROM e WHERE rn = 1),
         grid AS (SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
                  FROM hourly GROUP BY user_id),
         j AS (SELECT g.user_id, g.hr, h.cents,
                      count(h.cents) OVER (PARTITION BY g.user_id ORDER BY g.hr
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
               FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr)
         SELECT user_id, CAST(hr AS BIGINT) AS hr,
                max(cents) OVER (PARTITION BY user_id, grp) AS filled_cents,
                CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed
         FROM j""",
    // prob is one division of two exact integers — deterministic
    "e_markov" ->
      """WITH u AS (SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
           FROM events)
         SELECT event_type AS src_type, next_type AS dst_type,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
         FROM u WHERE next_type IS NOT NULL GROUP BY event_type, next_type""",
    // interpolated medians of integer cents are exact multiples of ½
    "e_rolling_median" ->
      """WITH u AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
                CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         SELECT user_id, event_id,
                quantile_cont(cents, 0.5) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med_cents
         FROM u""",
    // both medians are exact multiples of ½ cent, so the k·MAD gate is
    // engine-exact in doubles
    "e_mad_outlier" ->
      """WITH e AS (SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS v FROM events),
         med AS (SELECT event_type,
                quantile_cont(CAST(v AS DOUBLE), 0.5) AS med
                FROM e GROUP BY event_type),
         dev AS (SELECT e.event_id, e.event_type, e.v,
                abs(CAST(e.v AS DOUBLE) - m.med) AS dev
                FROM e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                FROM dev GROUP BY event_type)
         SELECT d.event_id, d.event_type,
                CAST(d.v AS DOUBLE) / 100.0 AS value, d.dev AS deviation
         FROM dev d JOIN mad m USING (event_type)
         WHERE d.dev > 5 * m.mad""",
    // aggregate-then-rank: the rank rides (type, hour, user) counts
    "e_trending" ->
      """WITH c AS (SELECT event_type,
                (epoch_us(ts) // 3600000000) * 3600000000 AS hr_us,
                user_id, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2, 3),
         r AS (SELECT event_type, hr_us, user_id, cnt,
                CAST(row_number() OVER (PARTITION BY event_type, hr_us
                     ORDER BY cnt DESC, user_id) AS BIGINT) AS rnk
           FROM c)
         SELECT event_type, hr_us, user_id, cnt, rnk FROM r WHERE rnk <= 3""",
    // the components closure (recursive CTE over exact pairs — equal to
    // the Spark side's verified-LSH pairs on this corpus, spec-pinned)
    // feeds the p_split hash rule applied to each doc's component ROOT
    "p_leak_split" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION
                   SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT d.doc_id,
                COALESCE(c.component, d.doc_id) AS root,
                CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR) || ':split'), 1, 2) < 'cc' THEN 'train'
                     WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR) || ':split'), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""",
    // the oracle replays the arrival model as ONE global running-max
    // window over (hour, user, id) — the naive serial formulation the
    // Spark side's two-level bucket scan must equal exactly
    "e_late_audit" ->
      """WITH e AS (SELECT event_id, event_type, user_id,
                epoch_us(ts) AS tsu, epoch_us(ts) // 3600000000 AS hr
           FROM events),
         r AS (SELECT event_type,
                max(tsu) OVER (ORDER BY hr, user_id, event_id
                               ROWS UNBOUNDED PRECEDING) - tsu AS late_us
           FROM e)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS drop_1m,
                CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS drop_10m,
                CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS drop_1h,
                CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_sec
         FROM r GROUP BY event_type""",
    // the oracle is the naive row_number Gini; the Spark side computes
    // the same integers from tie-collapsed blocks + the two-level scan
    "q_gini" ->
      """WITH spend AS (SELECT o_custkey,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
           FROM orders GROUP BY o_custkey),
         s2 AS (SELECT n.n_name, sp.x
           FROM spend sp
           JOIN customer c ON sp.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
         rk AS (SELECT n_name, x,
                row_number() OVER (PARTITION BY n_name ORDER BY x) AS i
           FROM s2),
         m AS (SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
                sum(CAST(x AS HUGEINT)) AS sx,
                sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS sixi
           FROM rk GROUP BY n_name)
         SELECT n_name, CAST(n AS BIGINT) AS n_cust,
                CAST(2 * sixi - (n + 1) * sx AS DOUBLE) /
                  CAST(n * sx AS DOUBLE) AS gini
         FROM m""",
    // share and epochs are sequential double divisions of exact
    // integers, mirrored operand-for-operand
    "p_epoch_plan" ->
      """WITH inv AS (SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                         x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM inv)
         SELECT source, n_docs, n_tokens,
                CAST(1000000 AS DOUBLE) / n_sources AS share_tokens,
                CAST(1000000 AS DOUBLE) / n_sources / n_tokens AS epochs
         FROM inv CROSS JOIN n""",
    // weighted shares: Σw over PRESENT sources; every double is a
    // correctly-rounded function of exact integers (weights are small
    // integers in doubles), association mirrored left-to-right
    "p_epoch_weighted" ->
      """WITH inv AS (SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
                                         x -> x <> ''))) AS BIGINT) AS n_tokens,
                CASE WHEN source = 'src0' THEN CAST(4.0 AS DOUBLE)
                     WHEN source = 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS weight
           FROM documents GROUP BY source),
         t AS (SELECT sum(weight) AS w_sum FROM inv)
         SELECT source, n_docs, n_tokens, weight,
                CAST(1000000 AS DOUBLE) * weight / w_sum AS share_tokens,
                CAST(1000000 AS DOUBLE) * weight / w_sum / n_tokens AS epochs,
                least(CAST(1.0 AS DOUBLE),
                      CAST(1000000 AS DOUBLE) * weight / w_sum / n_tokens)
                  AS keep_rate
         FROM inv CROSS JOIN t""",
    // quartile cutoffs via SQL-standard percentile_disc (an ACTUAL
    // score value — engine-identical; interpolation would differ in
    // last-ulp association); mean quality from exact 1e-6-scaled longs
    "p_curriculum" ->
      """WITH b AS (
           SELECT doc_id, length(text) AS nc,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS nw,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np,
                  len(list_filter(regexp_split_to_array(text, '\s+'),
                      x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS sh
           FROM documents),
         s AS (SELECT doc_id, CAST(nw AS BIGINT) AS t,
                  floor((CAST(sh AS DOUBLE) / greatest(nw, 1) * 0.4
                        + least(CAST(na AS DOUBLE) / greatest(nw, 1) / 10.0, 1.0) * 0.3
                        + (1.0 - CAST(np AS DOUBLE) / greatest(nc, 1)) * 0.3)
                        * 1000000 + 0.5) / 1000000 AS q
           FROM b),
         c AS (SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY q) AS q1,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY q) AS q2,
                      percentile_disc(0.75) WITHIN GROUP (ORDER BY q) AS q3
               FROM s),
         p AS (SELECT CASE WHEN q <= q1 THEN 1 WHEN q <= q2 THEN 2
                           WHEN q <= q3 THEN 3 ELSE 4 END AS phase, t, q
               FROM s CROSS JOIN c)
         SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(t) AS BIGINT) AS n_tokens,
                floor(CAST(sum(CAST(round(q * 1000000) AS BIGINT)) AS DOUBLE)
                      / count(*) / 1000000.0 * 1000000 + 0.5) / 1000000 AS mean_quality
         FROM p GROUP BY phase""",
    // exact integer head/tail mass — no log(), so no libm divergence
    "t_vocab_card" ->
      """WITH wd AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                               x -> x <> '')) AS w FROM documents),
         c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM wd GROUP BY w),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
                      CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
                      CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
               FROM c),
         t AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS head_c
               FROM (SELECT c FROM c ORDER BY c DESC, w LIMIT 100))
         SELECT n_types, n_tokens, hapax, dis,
                floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS ttr,
                floor(CAST(head_c AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS head_cov
         FROM s CROSS JOIN t""",
    // the mutual filter replays as a self-join of the rnk<=3 table
    "s_knn_graph" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                           list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
                    FROM n JOIN n q ON n.vec_id <> q.vec_id),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM scored),
         k AS (SELECT query_id, neighbor_id,
                      floor(cos * 1000000 + 0.5) / 1000000 AS cos
               FROM r WHERE rnk <= 3)
         SELECT x.query_id AS id_a, x.neighbor_id AS id_b, x.cos AS cos
         FROM k x JOIN k y ON x.query_id = y.neighbor_id
                          AND x.neighbor_id = y.query_id
         WHERE x.query_id < x.neighbor_id""",
    // the KS maximand is a cross-multiplied integer; one closing
    // division; the (diff desc, v) total order pins the argmax
    "d_drift_ks" ->
      """WITH a AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS ca
           FROM documents WHERE source = 'src0' GROUP BY 1),
         b AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cb
           FROM documents WHERE source <> 'src0' GROUP BY 1),
         m AS (SELECT COALESCE(a.v, b.v) AS v,
                COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
           FROM a FULL OUTER JOIN b ON a.v = b.v),
         r AS (SELECT v,
                sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
                sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
           FROM m),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                      CAST(sum(cb) AS BIGINT) AS nb FROM m),
         d AS (SELECT v, abs(CAST(fa AS HUGEINT) * nb - CAST(fb AS HUGEINT) * na) AS diff
           FROM r CROSS JOIN t)
         SELECT t.na, t.nb,
                CAST(d.diff AS DOUBLE) /
                  (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) AS ks,
                d.v AS ks_at
         FROM d CROSS JOIN t ORDER BY d.diff DESC, d.v LIMIT 1""",
    // a healthy drop reads all-zeros except the row counts
    "q_integrity" ->
      """SELECT 'orders_rows' AS metric, CAST(count(*) AS BIGINT) AS value FROM orders
         UNION ALL
         SELECT 'orders_dup_keys', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
         UNION ALL
         SELECT 'lineitem_orphans', CAST(count(*) AS BIGINT) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         UNION ALL
         SELECT 'orders_orphan_cust', CAST(count(*) AS BIGINT) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         UNION ALL
         SELECT 'lineitem_null_qty',
                CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
         UNION ALL
         SELECT 'orders_null_date',
                CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders""",
    // canonical p1<p2 orientation generates each pair once; baskets
    // above the 1000-item hot-basket cap are excluded with their count
    // surfaced as the (-1,-1,n) sentinel row, mirroring the Spark valve
    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         sized AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM items),
         kept AS (SELECT l_orderkey, l_partkey FROM sized WHERE bsz <= 1000)
         SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                CAST(count(*) AS BIGINT) AS support
         FROM kept a JOIN kept b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY a.l_partkey, b.l_partkey
         HAVING count(*) >= 2
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                 FROM sized WHERE bsz > 1000)""",
    // the streaming dedup's emitted key set == batch DISTINCT
    "e_dedup_stream" ->
      """SELECT DISTINCT user_id, event_type,
                epoch_us(date_trunc('hour', ts)) AS hr_us
         FROM events""",
    // lag-window gap census; p95 is a discrete (actual) gap value
    "e_gap_card" ->
      """WITH g AS (SELECT event_type, epoch_us(ts) AS tsu, event_id,
                lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY epoch_us(ts), event_id) AS prev
           FROM events),
         d AS (SELECT event_type, tsu - prev AS gap_us FROM g WHERE prev IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                CAST(max(gap_us) AS BIGINT) AS max_gap_us,
                CAST(sum(gap_us) AS DOUBLE) / count(*) AS mean_gap_us,
                CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_us) AS BIGINT)
                  AS p95_gap_us,
                CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_sla_breaches
         FROM d GROUP BY event_type""",
    // the survivors of the change log: deletes gone, double-updated
    // rows at their HIGHEST sequence value, the rest untouched
    "fs_cdc" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 10 <> 0 AND doc_id % 10 <> 1
         UNION ALL
         SELECT doc_id, source, n_chars + 9000 AS n_chars FROM documents
         WHERE doc_id % 10 = 1""",
    // the lead-window mirror: an upsert's validity runs to the next
    // change (upsert or tombstone); unclosed versions are current
    "fs_scd2" ->
      """WITH ch AS (
           SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS seq, 'u' AS op
           FROM documents WHERE doc_id % 5 = 1
           UNION ALL
           SELECT doc_id, n_chars + 7000, CAST(2 AS BIGINT), 'u'
           FROM documents WHERE doc_id % 10 = 1
           UNION ALL
           SELECT doc_id, CAST(NULL AS BIGINT), CAST(3 AS BIGINT), 'd'
           FROM documents WHERE doc_id % 10 = 6),
         h AS (SELECT doc_id, n_chars, op, seq AS valid_from,
                      lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS valid_to
               FROM ch)
         SELECT doc_id, n_chars, valid_from, valid_to,
                valid_to IS NULL AS is_current
         FROM h WHERE op = 'u'""",
    // the as-of slice of the same history: versions valid AT seq 1
    "fs_scd2_asof" ->
      """WITH ch AS (
           SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS seq, 'u' AS op
           FROM documents WHERE doc_id % 5 = 1
           UNION ALL
           SELECT doc_id, n_chars + 7000, CAST(2 AS BIGINT), 'u'
           FROM documents WHERE doc_id % 10 = 1
           UNION ALL
           SELECT doc_id, CAST(NULL AS BIGINT), CAST(3 AS BIGINT), 'd'
           FROM documents WHERE doc_id % 10 = 6),
         h AS (SELECT doc_id, n_chars, op, seq AS valid_from,
                      lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS valid_to
               FROM ch)
         SELECT doc_id, n_chars, valid_from, valid_to
         FROM h WHERE op = 'u'
           AND valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)""",
    // the oracle recomputes from scratch; equality proves the
    // stream-maintained MV state (microbatch deltas merged into the
    // durable Catalog state) reconstructs the full aggregate
    "fs_mv_stream" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_value
         FROM events GROUP BY event_type""",
    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate) + 2592000000000)
         GROUP BY 1""",
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
           GROUP BY 1)
         GROUP BY 1""",
    // the above-average threshold is cross-multiplied in integer cents
    // on both engines, so no double average is ever compared
    "q22_idle" ->
      """WITH pos AS (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS pos_cents,
                             count(*) AS pos_n
                      FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS numcust,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
         FROM customer, pos
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) * pos_n > pos_cents
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         GROUP BY 1""",
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         WHERE r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3""",
    // ratio of two exact-cents sums; scaled-floor rounding mirrors round6
    "q8_market_share" ->
      """WITH eu AS (SELECT s_suppkey FROM supplier
                     JOIN nation ON s_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
                     WHERE r_name = 'EUROPE'),
         am AS (SELECT c_custkey FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'AMERICA')
         SELECT year(o_orderdate) AS o_year,
                floor(CAST(sum(CASE WHEN l_suppkey IN (SELECT s_suppkey FROM eu)
                                    THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                                    ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE)
                      * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_type = 'STANDARD'
           AND o_custkey IN (SELECT c_custkey FROM am)
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",
    // the argmax compares exact cents, so ties (if any) all surface
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS rev_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name,
                CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_cents = (SELECT max(rev_cents) FROM rev)""",
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
                CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
                CAST(sum_qty AS BIGINT) AS sum_qty
         FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
         JOIN orders ON o_orderkey = big.l_orderkey
         JOIN customer ON o_custkey = c_custkey""",
    "q19_disc_revenue" ->
      """SELECT CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 20 AND 30)""",
    // cume_dist per distinct cents value (cum/n exact rational)
    "q_cume_dist" ->
      """WITH vc AS (SELECT o_orderstatus,
                            CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                            count(*) AS c
                     FROM orders GROUP BY 1, 2),
         tot AS (SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1)
         SELECT vc.o_orderstatus, price_cents,
                floor(CAST(sum(c) OVER (PARTITION BY vc.o_orderstatus ORDER BY price_cents
                                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                      / n * 1000000 + 0.5) / 1000000 AS cume_dist
         FROM vc JOIN tot ON vc.o_orderstatus = tot.o_orderstatus""",
    // deterministic mode: rank-1 over counts, ties to smallest value
    "q_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
           SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1""",
    // partsupp derived as distinct traded (partkey, suppkey) pairs
    "q16_partsupp" ->
      """SELECT p_brand, p_type, p_size,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON ps.l_partkey = p_partkey
         WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
           AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
         GROUP BY 1, 2, 3""",
    // partsupp derived as traded pairs; supply cost = min traded line
    // price in exact cents (division-free), min-cost supplier per part
    // via rank-1 with suppkey tie-break
    "q2_min_cost" ->
      """SELECT s_acctbal, s_name, nation, p_partkey, p_name,
                CAST(cost_cents AS DOUBLE)/100.0 AS cost
         FROM (
           SELECT s_acctbal, s_name, nation, p_partkey, p_name, cost_cents,
                  row_number() OVER (PARTITION BY p_partkey
                                     ORDER BY cost_cents, s_suppkey) AS rn
           FROM (SELECT l_partkey, l_suppkey,
                        min(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_cents
                 FROM lineitem GROUP BY 1, 2) ps
           JOIN part ON l_partkey = p_partkey
           JOIN (SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
                 FROM supplier
                 JOIN nation ON s_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
                 WHERE r_name = 'EUROPE') euro ON l_suppkey = s_suppkey
           WHERE p_type = 'LARGE' AND p_size <= 10)
         WHERE rn = 1""",
    // part value = exact-cents sum of the nation's traded line prices;
    // the 1/1000 threshold compared cross-multiplied in cents
    "q11_important" ->
      """WITH vals AS (
           SELECT l_partkey AS p_partkey,
                  sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS value_cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3'
           GROUP BY 1)
         SELECT p_partkey, CAST(value_cents AS DOUBLE)/100.0 AS value
         FROM vals, (SELECT sum(value_cents) AS total_cents FROM vals)
         WHERE value_cents * 1000 > total_cents * 1""",
    // availability proxied as all-time traded quantity per pair; the
    // 2x-the-promo-year threshold is integer-exact on long quantities
    "q20_promo" ->
      """SELECT DISTINCT s_suppkey, s_name, s_acctbal, n_name AS nation
         FROM (
           SELECT l_partkey, l_suppkey,
                  sum(CAST(l_quantity AS BIGINT)) AS avail,
                  sum(CASE WHEN year(l_shipdate) = 1997
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS shipped
           FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part
                               WHERE contains(p_name, 'bolt'))
           GROUP BY 1, 2)
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE shipped > 0 AND avail > shipped * 2""",
    // cost proxied as 20% of retail x quantity; both legs exact cents
    "q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
                CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                     - sum(CAST(round((p_retailprice * l_quantity * 0.2) * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS profit
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE contains(p_name, 'bolt')
         GROUP BY 1, 2""",
    // EXISTS formulation on purpose: the engine runs the per-order
    // aggregate rewrite, the oracle the textbook correlated subqueries —
    // the compare proves them equivalent every round
    "q21_waiting" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
         JOIN orders ON l1.l_orderkey = o_orderkey
         WHERE n_name = 'NATION_3' AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
         GROUP BY 1""",
    // span-level dedup: first occurrence = min packed (doc_id, span_id)
    "d_span_dedup" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         t AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
         s AS (SELECT doc_id, w, unnest(generate_series(0, (n + 7) // 8 - 1)) AS span_id FROM t),
         h AS (SELECT doc_id, span_id, doc_id * 1000000000 + span_id AS ord,
                      CAST('0x' || substr(md5(array_to_string(w[(span_id * 8 + 1):(span_id * 8 + 8)], ' ')), 1, 15) AS BIGINT) AS hsh
               FROM s),
         f AS (SELECT hsh, min(ord) AS first_ord FROM h GROUP BY 1)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN ord <> first_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
                floor(CAST(sum(CASE WHEN ord <> first_ord THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*) * 1000000 + 0.5) / 1000000 AS dup_frac
         FROM h JOIN f USING (hsh) GROUP BY 1""",
    // removal twin of d_span_dedup: FILTER inside the aggregates
    // mirrors collect_list's null-skipping (fully-scrubbed docs stay,
    // with an empty string_agg coalesced to '')
    "d_span_scrub" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         t AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
         s AS (SELECT doc_id, w, unnest(generate_series(0, (n + 7) // 8 - 1)) AS span_id FROM t),
         h AS (SELECT doc_id, span_id, doc_id * 1000000000 + span_id AS ord,
                      array_to_string(w[(span_id * 8 + 1):(span_id * 8 + 8)], ' ') AS txt
               FROM s),
         hh AS (SELECT doc_id, span_id, ord, txt,
                       CAST('0x' || substr(md5(txt), 1, 15) AS BIGINT) AS hsh FROM h),
         f AS (SELECT hsh, min(ord) AS first_ord FROM hh GROUP BY 1)
         SELECT doc_id,
                CAST(count(*) FILTER (WHERE ord = first_ord) AS BIGINT) AS n_spans_kept,
                coalesce(string_agg(txt, ' ' ORDER BY span_id)
                         FILTER (WHERE ord = first_ord), '') AS text_clean
         FROM hh JOIN f USING (hsh) GROUP BY 1""",
    // LM fluency score: scaled-integer probability sums (see lmScore)
    "d_lm_score" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         bi AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         pair AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
         head AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM pair GROUP BY 1),
         lm AS (SELECT w1, w2, (n12 * 1000000) // n1 AS p_scaled
                FROM pair JOIN head USING (w1) WHERE n12 >= 2)
         SELECT doc_id, count(*) AS n_bigrams,
                floor(CAST(sum(coalesce(p_scaled, 0)) AS DOUBLE) / 1000000.0
                      / count(*) * 1000000 + 0.5) / 1000000 AS lm_score
         FROM bi LEFT JOIN lm USING (w1, w2) GROUP BY 1""",
    // CCNet buckets: the lm_score mirror + per-language tercile cutoffs
    // from the distinct-score cumulative ranks, buckets by comparison
    "d_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         bi AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         pair AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
         head AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM pair GROUP BY 1),
         lm AS (SELECT w1, w2, (n12 * 1000000) // n1 AS p_scaled
                FROM pair JOIN head USING (w1) WHERE n12 >= 2),
         sc AS (SELECT doc_id,
                floor(CAST(sum(coalesce(p_scaled, 0)) AS DOUBLE) / 1000000.0
                      / count(*) * 1000000 + 0.5) / 1000000 AS lm_score
                FROM bi LEFT JOIN lm USING (w1, w2) GROUP BY 1),
         scl AS (SELECT sc.doc_id, d.lang, sc.lm_score
                 FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         vc AS (SELECT lang, lm_score, count(*) AS c FROM scl GROUP BY 1, 2),
         cum AS (SELECT lang, lm_score,
                        sum(c) OVER (PARTITION BY lang ORDER BY lm_score
                                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM vc),
         tot AS (SELECT lang, count(*) AS n FROM scl GROUP BY 1),
         cuts AS (SELECT cum.lang,
                         min(CASE WHEN cum * 3 >= n THEN lm_score END) AS cut_tail,
                         min(CASE WHEN cum * 3 >= n * 2 THEN lm_score END) AS cut_mid
                  FROM cum JOIN tot ON cum.lang = tot.lang GROUP BY 1)
         SELECT scl.doc_id, scl.lang, scl.lm_score,
                CASE WHEN lm_score <= cut_tail THEN 'tail'
                     WHEN lm_score <= cut_mid THEN 'middle'
                     ELSE 'head' END AS bucket
         FROM scl JOIN cuts ON scl.lang = cuts.lang""",
    "p_mix" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15) AS BIGINT) AS DOUBLE)
               / 1152921504606846976.0
               < CASE source WHEN 'src0' THEN 0.1 WHEN 'src1' THEN 0.25
                             WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.75 ELSE 0.9 END""",
    // alpha=0.5 rate is sqrt(n_min/n): IEEE sqrt + divide are
    // correctly rounded, so the double is identical on both engines
    "p_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS nmin FROM c)
         SELECT doc_id, lang FROM documents JOIN c USING (lang), m
         WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 15) AS BIGINT) AS DOUBLE)
               / 1152921504606846976.0
               < sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE))""",
    // exact window mirror of capPerGroup (same (hash, doc_id) total
    // order, so ties and caps agree row-for-row)
    "p_cap_source" ->
      """WITH h AS (SELECT doc_id, source,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15) AS BIGINT) AS h
                FROM documents),
         r AS (SELECT source, doc_id,
                      row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM h)
         SELECT doc_id, source FROM r WHERE rn <= 10""",
    // hashed-bigram importance ratios: same bucket hash (md5 60-bit),
    // add-one smoothing, scaled-integer ratio sums — exact mirrors
    "d_importance" ->
      """WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         bi AS (SELECT doc_id, is_target,
                CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15)) AS BIGINT) % 4096 AS b
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         r AS (SELECT b,
                      ((sum(CASE WHEN is_target THEN 1 ELSE 0 END) + 1) * 1000000)
                        // (count(*) + 1) AS r_scaled
               FROM bi GROUP BY b)
         SELECT doc_id, count(*) AS n_feats,
                floor(CAST(sum(r_scaled) AS DOUBLE) / 1000000.0 / count(*) * 1000000 + 0.5)
                  / 1000000 AS imp_score
         FROM bi JOIN r USING (b) GROUP BY doc_id""",
    // selection: per-doc exact (n_feats, r_sum) longs, corpus totals,
    // cross-multiplied comparison in HUGEINT (mirrors Spark's
    // Decimal(38,0)) — no double mean on either engine
    "d_select_target" ->
      """WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         bi AS (SELECT doc_id, is_target,
                CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 15)) AS BIGINT) % 4096 AS b
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 2),
         r AS (SELECT b,
                      ((sum(CASE WHEN is_target THEN 1 ELSE 0 END) + 1) * 1000000)
                        // (count(*) + 1) AS r_scaled
               FROM bi GROUP BY b),
         d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                      CAST(sum(r_scaled) AS BIGINT) AS r_sum
               FROM bi JOIN r USING (b) GROUP BY doc_id),
         t AS (SELECT CAST(sum(n_feats) AS HUGEINT) AS tot_feats,
                      CAST(sum(r_sum) AS HUGEINT) AS tot_rsum FROM d)
         SELECT doc_id, n_feats,
                floor(CAST(r_sum AS DOUBLE) / 1000000.0 / n_feats * 1000000 + 0.5)
                  / 1000000 AS imp_score
         FROM d, t
         WHERE CAST(r_sum AS HUGEINT) * tot_feats > tot_rsum * CAST(n_feats AS HUGEINT)""",
    "fs_upsert" ->
      """SELECT doc_id, source, n_chars + 1000 AS n_chars
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 7 <> 0""",
    // the oracle recomputes from scratch; equality proves the stored
    // base state + delta merge reconstructs the full aggregate
    "fs_incr_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS revenue
         FROM orders GROUP BY 1""",
    // the point lookup serves the same rows a plain filter over the
    // full aggregate would
    "fs_mv_lookup" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS revenue
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%d')
           IN ('1995-06-19', '2000-02-03', '1996-02-25')
         GROUP BY 1""",
    // the segment union must equal the plain join — appends lose and
    // duplicate nothing
    "fs_mv_join" ->
      """SELECT o_orderkey, o_custkey,
                CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)
                  / 100.0 AS price,
                c_nationkey
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    // regression from exact integer moments; only the slope divides
    // moments accumulate in HUGEINT (mirrors Spark's Decimal(38,0) —
    // no wrap, no raise) and emit as doubles; slope operands are the
    // emitted doubles on both engines
    "q_regression" ->
      """WITH c AS (SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
         s AS (SELECT l_returnflag, count(*) AS n,
                      CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                      CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                      CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
               FROM c GROUP BY 1)
         SELECT l_returnflag, n, sx, sy, sxy, sxx,
                floor((CAST(n AS DOUBLE) * sxy - sx * sy) /
                      (CAST(n AS DOUBLE) * sxx - sx * sx)
                      * 1000000 + 0.5) / 1000000 AS slope
         FROM s""",
    // chi-square card: (O·N − R·C)²/(R·C·N) per cell in HUGEINT
    // (mirrors Spark's Decimal(38,0)), one double division; expected
    // count floor-scaled to 1e-6 on positive operands
    // running-peak drawdown: exact cents, per-customer ROWS window on
    // the (date us, key) total order, display /100 divisions only
    "q_drawdown" ->
      """WITH u AS (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS odu,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         w AS (SELECT o_custkey, cents,
                max(cents) OVER (PARTITION BY o_custkey ORDER BY odu, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM u)
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(max(cents) AS DOUBLE) / 100.0 AS peak_value,
                CAST(max(peak - cents) AS DOUBLE) / 100.0 AS max_drawdown
         FROM w GROUP BY o_custkey""",
    "q_chi2" ->
      """WITH cells AS (SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS obs FROM orders GROUP BY 1, 2),
         r AS (SELECT o_orderstatus, sum(obs) AS r_tot FROM cells GROUP BY 1),
         c AS (SELECT o_orderpriority, sum(obs) AS c_tot FROM cells GROUP BY 1),
         n AS (SELECT sum(obs) AS n_tot FROM cells)
         SELECT cells.o_orderstatus, cells.o_orderpriority, obs,
                CAST((CAST(r_tot AS HUGEINT) * c_tot * 1000000) // n_tot
                     AS BIGINT) AS exp_micro,
                CAST((CAST(obs AS HUGEINT) * n_tot
                      - CAST(r_tot AS HUGEINT) * c_tot)
                   * (CAST(obs AS HUGEINT) * n_tot
                      - CAST(r_tot AS HUGEINT) * c_tot) AS DOUBLE)
                  / CAST(CAST(r_tot AS HUGEINT) * c_tot * n_tot AS DOUBLE)
                  AS contrib
         FROM cells
         JOIN r ON cells.o_orderstatus = r.o_orderstatus
         JOIN c ON cells.o_orderpriority = c.o_orderpriority
         CROSS JOIN n""",
    // correlation from exact integer moment sums (HUGEINT mirrors
    // Spark's Decimal(38,0)); the closing double arithmetic is the
    // identical expression tree on both engines
    "q_corr" ->
      """WITH m AS (SELECT l_returnflag,
             CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)) AS sx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sy,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)) AS sxx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS syy,
             sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sxy
             FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
                CAST(n * sxy - sx * sy AS DOUBLE) /
                  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_price,
                CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * n AS DOUBLE) AS covar_pop_c2
         FROM m""",
    "q_bool_bit" ->
      """SELECT o_orderpriority,
                bool_and(o_totalprice > 1000.0) AS all_over_1k,
                bool_or(o_totalprice > 100000.0) AS any_over_100k,
                bit_and(o_orderkey) AS keys_and,
                bit_or(o_orderkey) AS keys_or,
                bit_xor(o_orderkey) AS keys_xor,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders GROUP BY o_orderpriority""",
    "q_array_ops" ->
      """WITH b AS (SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
                    FROM lineitem GROUP BY l_orderkey)
         SELECT l_orderkey,
                CAST(len(parts) AS INTEGER) AS n_parts,
                parts[1] AS first_part,
                parts[-1] AS last_part,
                CAST(list_sum(parts) AS BIGINT) AS sum_parts,
                array_to_string(parts, ',') AS parts_csv
         FROM b""",
    // fixed-point PageRank replayed as one generated CTE pair per
    // iteration (the kmeans/BPE replay pattern): every step is integer
    // multiply / floor-divide / sum, exact in any accumulation order
    "g_pagerank" -> {
      def iter(i: Int): String =
        s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS contrib
                 FROM edges e JOIN r${i - 1} r ON e.src = r.node
                 JOIN ow o ON e.src = o.src
                 GROUP BY e.dst),
         r$i AS (SELECT n.n_name AS node,
                   ((1000000000000 // 100) * 15) // nn.n
                     + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
                 FROM nation n CROSS JOIN nn
                 LEFT JOIN c$i c ON n.n_name = c.dst)"""
      s"""WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nation),
         ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
         r0 AS (SELECT n_name AS node, 1000000000000 // n AS rank
                FROM nation CROSS JOIN nn),
         ${iter(1)},${iter(2)},${iter(3)}
         SELECT node AS n_name, CAST(rank AS BIGINT) AS rank_scaled,
                CAST(rank AS DOUBLE) / 1000000000000.0 AS rank
         FROM r3"""
    },
    // each triangle a<b<c generated exactly once by the canonical
    // orientation (wedge a→b→c closed by a→c), so no /6 correction
    "g_triangles" ->
      """WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM edges WHERE src <> dst)
         SELECT (SELECT CAST(count(DISTINCT x) AS BIGINT)
                 FROM (SELECT a AS x FROM und UNION ALL SELECT b FROM und)) AS n_nodes,
                (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM und e1 JOIN und e2 ON e1.b = e2.a
                 JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b) AS n_triangles""",
    // degree profile keeps zero-degree nodes via the outer joins
    "g_degree" ->
      """WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         outs AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg,
                         sum(w) AS out_w FROM edges GROUP BY src),
         ins AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_deg,
                        sum(w) AS in_w FROM edges GROUP BY dst)
         SELECT n.n_name,
                CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
                CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
                CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
                CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w
         FROM nation n
         LEFT JOIN outs o ON n.n_name = o.src
         LEFT JOIN ins i ON n.n_name = i.dst""",
    // depth-bounded recursive traversal + min(d): same object as the
    // Spark side's 8 synchronous relaxation rounds (a node with true
    // distance ≤ 8 is settled exactly in both), deliberately a
    // DIFFERENT formulation so the compare checks the math
    "g_bfs" ->
      """WITH RECURSIVE edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         r(node, d) AS (
            SELECT (SELECT min(n_name) FROM nation), 0
            UNION
            SELECT e.dst, r.d + 1
            FROM r JOIN sedges e ON e.src = r.node
            WHERE r.d < 8)
         SELECT node AS n_name, CAST(min(d) AS BIGINT) AS hops
         FROM r GROUP BY node""",
    // neighbor-set Jaccard over the same sparsified backbone the Spark
    // side peels: union/inclusion-exclusion in BIGINTs, one exact-input
    // division at the end — deliberately formulated from scratch rather
    // than echoing the wedge join
    "g_jaccard" ->
      """WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM sedges),
         nbrs AS (SELECT a AS x, b AS nbr FROM und
                  UNION ALL SELECT b, a FROM und),
         degs AS (SELECT x, CAST(count(*) AS BIGINT) AS deg
                  FROM nbrs GROUP BY x),
         common AS (SELECT n1.x AS node_a, n2.x AS node_b,
                           CAST(count(*) AS BIGINT) AS common
                    FROM nbrs n1 JOIN nbrs n2
                      ON n1.nbr = n2.nbr AND n1.x < n2.x
                    GROUP BY 1, 2)
         SELECT c.node_a, c.node_b, c.common,
                da.deg + db.deg - c.common AS uni,
                (u.a IS NOT NULL) AS linked,
                CAST(c.common AS DOUBLE)
                  / CAST(da.deg + db.deg - c.common AS DOUBLE) AS jac
         FROM common c
         JOIN degs da ON c.node_a = da.x
         JOIN degs db ON c.node_b = db.x
         LEFT JOIN und u ON c.node_a = u.a AND c.node_b = u.b""",
    // 8 generated peel rounds (the pagerank CTE-pair idiom), then the
    // survivor-subgraph degrees filtered to >= k — same depth-bounded
    // contract the Spark side documents
    "g_kcore" -> {
      // MATERIALIZED everywhere a CTE is referenced twice: DuckDB
      // inlines plain CTEs per reference, and the double alive/live
      // references would otherwise expand the 8-round chain
      // exponentially (observed as an fd blow-up on the base scans)
      def peel(i: Int): String =
        s"""live$i AS MATERIALIZED (SELECT u.a, u.b FROM und u
                 JOIN alive${i - 1} x ON u.a = x.x
                 JOIN alive${i - 1} y ON u.b = y.x),
         deg$i AS (SELECT x, count(*) AS deg FROM (
                 SELECT a AS x FROM live$i UNION ALL SELECT b FROM live$i)
                 GROUP BY x),
         alive$i AS MATERIALIZED (SELECT x FROM deg$i WHERE deg >= 3)"""
      s"""WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM sedges),
         alive0 AS MATERIALIZED (SELECT DISTINCT x FROM (
            SELECT a AS x FROM und UNION ALL SELECT b FROM und)),
         ${(1 to 8).map(peel).mkString(",")},
         fin AS (SELECT u.a, u.b FROM und u
                 JOIN alive8 x ON u.a = x.x
                 JOIN alive8 y ON u.b = y.x)
         SELECT node AS n_name, CAST(count(*) AS BIGINT) AS core_deg FROM (
            SELECT a AS node FROM fin UNION ALL SELECT b FROM fin)
         GROUP BY node HAVING count(*) >= 3"""
    },
    // 8 generated min-propagation rounds (the g_kcore replay idiom);
    // component id = lexicographic min member name — engine-exact
    "g_cc" -> {
      def prop(i: Int): String =
        s"""comp$i AS MATERIALIZED (
                 SELECT x, min(c) AS c FROM (
                   SELECT x, c FROM comp${i - 1}
                   UNION ALL
                   SELECT nb.x, p.c FROM nbrs nb
                   JOIN comp${i - 1} p ON nb.nbr = p.x)
                 GROUP BY x)"""
      s"""WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM sedges),
         nbrs AS MATERIALIZED (SELECT a AS x, b AS nbr FROM und
                 UNION ALL SELECT b, a FROM und),
         comp0 AS MATERIALIZED (SELECT DISTINCT x, x AS c FROM nbrs),
         ${(1 to 8).map(prop).mkString(",")}
         SELECT x AS n_name, c AS component,
                CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS comp_size
         FROM comp8"""
    },
    // 4 generated synchronous LPA rounds; label mode per node, ties to
    // the smallest label — the pinned total order both engines share
    "g_lpa" -> {
      def sweep(i: Int): String =
        s"""lab$i AS MATERIALIZED (
                 SELECT x, lbl FROM (
                   SELECT x, lbl,
                          row_number() OVER (PARTITION BY x
                                             ORDER BY n DESC, lbl) AS rn
                   FROM (SELECT nb.x, p.lbl, count(*) AS n
                         FROM nbrs nb JOIN lab${i - 1} p ON nb.nbr = p.x
                         GROUP BY nb.x, p.lbl))
                 WHERE rn = 1)"""
      s"""WITH edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM sedges),
         nbrs AS MATERIALIZED (SELECT a AS x, b AS nbr FROM und
                 UNION ALL SELECT b, a FROM und),
         lab0 AS MATERIALIZED (SELECT DISTINCT x, x AS lbl FROM nbrs),
         ${(1 to 4).map(sweep).mkString(",")}
         SELECT x AS n_name, lbl AS community,
                CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS comm_size
         FROM lab4"""
    },
    // the four ranking functions share one total (cents desc, key)
    // order; percent_rank is the exact division (rank−1)/(n−1)
    "q_window_funcs" ->
      """WITH u AS (SELECT o_custkey, o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
         SELECT o_custkey, o_orderkey,
                percent_rank() OVER w AS pr,
                CAST(dense_rank() OVER w AS INTEGER) AS dr,
                nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key,
                first_value(cents) OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_cents
         FROM u WINDOW w AS (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey)""",
    // RANGE frame on the µs order key: peers at the same timestamp are
    // included by both engines' RANGE semantics — deterministic
    "q_range_frame" ->
      """WITH u AS (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS odu,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
         SELECT o_custkey, o_orderkey,
                CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY odu
                     RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cents,
                CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY odu
                     RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_orders
         FROM u""",
    // calendar coordinates as pure µs integer arithmetic (epoch day 0 =
    // Thursday, +4 puts Sunday at 0) — no engine week-start conventions
    "e_dow_hour" ->
      """SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
                (epoch_us(ts) // 3600000000) % 24 AS hour,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    "t_sentences" ->
      """WITH s AS (SELECT doc_id,
                list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
                            x -> x <> '') AS sents
           FROM documents)
         SELECT doc_id, CAST(len(sents) AS INTEGER) AS n_sent,
                CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))), 0) AS BIGINT) AS sent_chars,
                CASE WHEN len(sents) > 0
                     THEN CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))), 0) AS DOUBLE)
                          / CAST(len(sents) AS DOUBLE) END AS mean_sent_chars
         FROM s""",
    // the pruned partitioned read must equal the plain filtered scan
    "fs_partition_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""",
    // the zone-map probe must equal the plain full-scan filter —
    // skipping moves bytes, never results
    "fs_zonemap" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-06-30 00:00:00'
         GROUP BY l_returnflag""",
    "fs_zonemap_2d" ->
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
         FROM lineitem
         WHERE l_partkey BETWEEN 40 AND 120 AND l_suppkey BETWEEN 2 AND 8
         GROUP BY l_linestatus""",
    // growth is one division of two exact cents integers
    "q_yoy" ->
      """WITH rev AS (SELECT n_name, year(o_orderdate) AS o_year,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name, year(o_orderdate))
         SELECT n_name, o_year,
                CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
                CAST(rev_cents - lag(rev_cents) OVER (PARTITION BY n_name ORDER BY o_year) AS DOUBLE)
                  / CAST(lag(rev_cents) OVER (PARTITION BY n_name ORDER BY o_year) AS DOUBLE) AS yoy_growth
         FROM rev""",
    // z² > k² as pure integer arithmetic: (n·v − S)² > k²·(n·Q − S²),
    // in HUGEINT (int128) to mirror the Spark side's Decimal(38,0) —
    // both engines exact at every magnitude, no silent int64 wrap
    "e_anomaly" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS v FROM events),
         s AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
                      sum(CAST(v AS HUGEINT)) AS sv,
                      sum(CAST(v AS HUGEINT) * v) AS q
               FROM e GROUP BY 1)
         SELECT e.user_id, event_id, CAST(v AS DOUBLE) / 100.0 AS value
         FROM e JOIN s USING (user_id)
         WHERE (n * v - sv) * (n * v - sv) > 9 * (n * q - sv * sv)""",
    // ABC classes at the revenue-VALUE grain: top-down cumulative
    // through a value block is T − S_asc + mass; integer cross-multiply
    // classification, so ties always share a class
    "q_abc" ->
      """WITH rev AS (SELECT l_partkey,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS r
           FROM lineitem GROUP BY l_partkey),
         vc AS (SELECT r, count(*) AS cnt, r * count(*) AS mass FROM rev GROUP BY r),
         t AS (SELECT sum(mass) AS t FROM vc),
         s AS (SELECT r, cnt, mass,
                      sum(mass) OVER (ORDER BY r) AS s_asc FROM vc),
         c AS (SELECT CASE
                 WHEN ((SELECT t FROM t) - s_asc + mass) * 100 <= (SELECT t FROM t) * 80 THEN 'A'
                 WHEN ((SELECT t FROM t) - s_asc + mass) * 100 <= (SELECT t FROM t) * 95 THEN 'B'
                 ELSE 'C' END AS abc_class, cnt, mass
               FROM s)
         SELECT abc_class, CAST(sum(cnt) AS BIGINT) AS n_parts,
                CAST(sum(mass) AS DOUBLE) / 100.0 AS revenue,
                floor(CAST(sum(mass) AS DOUBLE) / (SELECT t FROM t) * 1000000 + 0.5)
                  / 1000000 AS rev_share
         FROM c GROUP BY abc_class""",
    // first digit from the exact cents DECIMAL STRING — no log10
    "q_benford" ->
      """SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                CAST(count(*) AS BIGINT) AS n_orders,
                floor(CAST(count(*) AS DOUBLE)
                      / (SELECT count(*) FROM orders) * 1000000 + 0.5) / 1000000 AS observed
         FROM orders GROUP BY 1""",
    // rank-grain decile via d = (10r−1) div n + 1 — deliberately the
    // opposite formulation of Spark's value-block range intersection;
    // tied customers carry the same value, so decile masses agree
    "q_lorenz" ->
      """WITH spend AS (SELECT o_custkey,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
           FROM orders GROUP BY 1),
         t AS (SELECT count(*) AS n, sum(x) AS t FROM spend),
         rk AS (SELECT x, row_number() OVER (ORDER BY x) AS rnk FROM spend),
         d AS (SELECT CAST((10 * rnk - 1) // (SELECT n FROM t) + 1 AS INT) AS decile, x FROM rk)
         SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
                CAST(sum(x) AS DOUBLE) / 100.0 AS spend,
                floor(CAST(sum(x) AS DOUBLE) / (SELECT t FROM t) * 1000000 + 0.5)
                  / 1000000 AS share
         FROM d GROUP BY decile""",
    // rules on top of the pair mine: confidence/lift are exact integer
    // ratios, one closing division each, operand order mirrored
    "q_basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         sized AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS bsz FROM items),
         kept AS (SELECT l_orderkey, l_partkey FROM sized WHERE bsz <= 1000),
         pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                          CAST(count(*) AS BIGINT) AS support
                   FROM kept a JOIN kept b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING count(*) >= 2),
         ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS icnt FROM items GROUP BY 1),
         nb AS (SELECT count(DISTINCT l_orderkey) AS nb FROM items)
         SELECT p1, p2, support,
                floor(CAST(support AS DOUBLE) / (SELECT nb FROM nb) * 1000000 + 0.5) / 1000000 AS supp_ratio,
                floor(CAST(support AS DOUBLE) / c1.icnt * 1000000 + 0.5) / 1000000 AS confidence,
                floor(CAST(support * (SELECT nb FROM nb) AS DOUBLE)
                      / (c1.icnt * c2.icnt) * 1000000 + 0.5) / 1000000 AS lift
         FROM pairs JOIN ic c1 ON p1 = c1.l_partkey
                    JOIN ic c2 ON p2 = c2.l_partkey""",
    // median cutoffs are percentile_disc — actual observed values,
    // engine-identical; capital letter = the good half
    "q_rfm" ->
      """WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
         rfm AS (SELECT o_custkey,
                  min(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST((SELECT dmax FROM mx) AS DATE))) AS recency_days,
                  count(*) AS frequency,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary
                 FROM orders GROUP BY o_custkey),
         c AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY recency_days) AS rc,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY frequency) AS fc,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY monetary) AS mc
               FROM rfm)
         SELECT (CASE WHEN recency_days <= rc THEN 'R' ELSE 'r' END
              || CASE WHEN frequency >= fc THEN 'F' ELSE 'f' END
              || CASE WHEN monetary >= mc THEN 'M' ELSE 'm' END) AS segment,
                CAST(count(*) AS BIGINT) AS n_cust,
                CAST(sum(monetary) AS DOUBLE) / 100.0 AS total_spend,
                floor(CAST(sum(monetary) AS DOUBLE) / count(*) / 100.0 * 1000000 + 0.5)
                  / 1000000 AS mean_spend
         FROM rfm CROSS JOIN c GROUP BY 1""",
    // CUSUM with the denominator cleared: n·P_k − k·S in HUGEINT —
    // exact argmax, defined at timestamp grain; earliest argmax wins
    "e_cusum" ->
      """WITH vc AS (SELECT event_type, epoch_us(ts) AS tsu,
                sum(CAST(round(value * 1000000) AS BIGINT)) AS vs,
                count(*) AS c
           FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, tsu,
                      sum(vs) OVER w AS pv, sum(c) OVER w AS k
               FROM vc WINDOW w AS (PARTITION BY event_type ORDER BY tsu)),
         t AS (SELECT event_type, sum(vs) AS s_tot, sum(c) AS n_tot
               FROM vc GROUP BY 1),
         sc AS (SELECT p.event_type, tsu,
                       abs(CAST(n_tot AS HUGEINT) * CAST(pv AS HUGEINT)
                           - CAST(k AS HUGEINT) * CAST(s_tot AS HUGEINT)) AS score,
                       n_tot
                FROM p JOIN t USING (event_type)),
         m AS (SELECT event_type, max(score) AS ms FROM sc GROUP BY 1)
         SELECT sc.event_type, CAST(min(tsu) AS BIGINT) AS change_tsu,
                CAST(first(ms) AS DOUBLE) AS cusum_score,
                CAST(first(n_tot) AS BIGINT) AS n_events
         FROM sc JOIN m ON sc.event_type = m.event_type AND sc.score = m.ms
         GROUP BY sc.event_type""",
    // strict local maxima at minute grain; tallest peak ties break to
    // the later minute (struct-max mirror)
    "e_peaks" ->
      """WITH bymin AS (SELECT event_type,
                (epoch_us(ts) // 60000000) * 60000000 AS minu,
                sum(CAST(round(value * 100) AS BIGINT)) AS v
           FROM events GROUP BY 1, 2),
         f AS (SELECT event_type, minu, v,
                      lag(v) OVER w AS pv, lead(v) OVER w AS nv
               FROM bymin WINDOW w AS (PARTITION BY event_type ORDER BY minu)),
         pk AS (SELECT * FROM f
                WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv),
         sel AS (SELECT event_type, v, minu,
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY v DESC, minu DESC) AS rn,
                        count(*) OVER (PARTITION BY event_type) AS n_peaks
                 FROM pk)
         SELECT event_type, CAST(n_peaks AS BIGINT) AS n_peaks,
                strftime(make_timestamp(minu), '%Y-%m-%d %H:%M') AS top_peak_minute,
                CAST(v AS DOUBLE) / 100.0 AS top_peak_value
         FROM sel WHERE rn = 1""",
    // silhouette: pair distances on the integer round6 grid, per-label
    // sums exact, s cross-multiplied in HUGEINT (mirrors Decimal(38,0))
    // with ONE division; the b-label argmin divides the SAME exact
    // integers on both engines, ties pinned by label
    "s_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
         n AS (SELECT vec_id, label, v,
                sqrt(list_dot_product(v, v)) AS nrm FROM e),
         grp AS MATERIALIZED (SELECT a.vec_id AS i, a.label AS li,
                b.label AS lj,
                sum(1000000 - CAST(floor(list_dot_product(a.v, b.v)
                    / (a.nrm * b.nrm) * 1000000 + 0.5) AS BIGINT)) AS sd,
                CAST(count(*) AS BIGINT) AS cnt
              FROM n a JOIN n b ON a.vec_id <> b.vec_id
              GROUP BY 1, 2, 3),
         a_side AS (SELECT i, sd AS sa, cnt AS ca FROM grp WHERE li = lj),
         b_rank AS (SELECT i, lj, sd, cnt,
                row_number() OVER (PARTITION BY i
                    ORDER BY CAST(sd AS DOUBLE) / cnt, lj) AS rn
              FROM grp WHERE li <> lj),
         b_side AS (SELECT i, lj AS b_label, sd AS sb, cnt AS cb
              FROM b_rank WHERE rn = 1)
         SELECT e.vec_id, e.label, b_side.b_label,
                CASE WHEN sa IS NULL OR sb IS NULL THEN 0.0
                     WHEN greatest(CAST(sa AS HUGEINT) * cb,
                                   CAST(sb AS HUGEINT) * ca) = 0 THEN 0.0
                     ELSE CAST(CAST(sb AS HUGEINT) * ca
                               - CAST(sa AS HUGEINT) * cb AS DOUBLE)
                          / CAST(greatest(CAST(sa AS HUGEINT) * cb,
                                 CAST(sb AS HUGEINT) * ca) AS DOUBLE) END AS sil
         FROM e
         LEFT JOIN a_side ON e.vec_id = a_side.i
         LEFT JOIN b_side ON e.vec_id = b_side.i""",
    // simplified silhouette: per-label fixed-point centroids (the
    // kmeans-oracle mean shape), integer-grid distance to every
    // centroid, argmin over foreign labels with ties to the smallest
    // label, one closing division
    "s_silhouette_centroid" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
         cm AS (SELECT label, i AS pos,
                sum(CAST(round(list_extract(v, i) * 1073741824.0) AS BIGINT)) AS sx,
                count(*) AS n
              FROM e CROSS JOIN unnest(generate_series(1, len(v))) AS t(i)
              GROUP BY label, i),
         c AS (SELECT label AS clabel,
                list(CAST(sx AS DOUBLE) / n / 1073741824.0 ORDER BY pos) AS cv,
                max(n) AS cn
              FROM cm GROUP BY label),
         d AS MATERIALIZED (SELECT e.vec_id, e.label, c.clabel, c.cn,
                1000000 - CAST(floor(list_dot_product(e.v, c.cv)
                    / (sqrt(list_dot_product(e.v, e.v))
                       * sqrt(list_dot_product(c.cv, c.cv)))
                    * 1000000 + 0.5) AS BIGINT) AS dmicro
              FROM e CROSS JOIN c),
         a_side AS (SELECT vec_id, label, dmicro AS da, cn AS ca
              FROM d WHERE label = clabel),
         b_rank AS (SELECT vec_id, clabel, dmicro,
                row_number() OVER (PARTITION BY vec_id
                    ORDER BY dmicro, clabel) AS rn
              FROM d WHERE label <> clabel),
         b_side AS (SELECT vec_id, clabel AS b_label, dmicro AS db
              FROM b_rank WHERE rn = 1)
         SELECT a_side.vec_id, a_side.label, b_side.b_label,
                CASE WHEN a_side.ca = 1 OR b_side.db IS NULL THEN 0.0
                     WHEN greatest(a_side.da, b_side.db) = 0 THEN 0.0
                     ELSE CAST(b_side.db - a_side.da AS DOUBLE)
                          / CAST(greatest(a_side.da, b_side.db) AS DOUBLE)
                END AS sil
         FROM a_side LEFT JOIN b_side ON a_side.vec_id = b_side.vec_id""",
    // deterministic DBSCAN: neighbor relation = raw cosine ≥ 0.4 (the
    // d_dedup_embed boundary), core = ≥3 neighbors, cluster = min-id
    // recursive closure of the core-core subgraph, border = min core
    // neighbor's cluster — every choice pinned, so the replay matches
    "s_dbscan" ->
      """WITH RECURSIVE e AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         p AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM n a JOIN n b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
         nb AS MATERIALIZED (SELECT ia AS x, ib AS nbr FROM p
              UNION ALL SELECT ib, ia FROM p),
         core AS MATERIALIZED (SELECT x FROM nb GROUP BY x
              HAVING count(*) >= 3),
         ce AS MATERIALIZED (SELECT nb.x AS src, nb.nbr AS dst FROM nb
              JOIN core c1 ON nb.x = c1.x JOIN core c2 ON nb.nbr = c2.x),
         reach AS (SELECT src AS id, src AS r FROM ce
                   UNION
                   SELECT reach.id, ce.dst FROM reach JOIN ce ON reach.r = ce.src),
         comp AS MATERIALIZED (SELECT id, min(r) AS component
              FROM reach GROUP BY id),
         corec AS MATERIALIZED (SELECT core.x,
                COALESCE(comp.component, core.x) AS cluster
              FROM core LEFT JOIN comp ON core.x = comp.id),
         border AS (SELECT nb.x, min(corec.cluster) AS bcluster
                    FROM nb JOIN corec ON nb.nbr = corec.x GROUP BY nb.x)
         SELECT emb.vec_id,
                CASE WHEN corec.x IS NOT NULL THEN 'core'
                     WHEN border.bcluster IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                CASE WHEN corec.x IS NOT NULL THEN corec.cluster
                     ELSE border.bcluster END AS cluster
         FROM embeddings emb
         LEFT JOIN corec ON emb.vec_id = corec.x
         LEFT JOIN border ON emb.vec_id = border.x""",
    // radius filter on the RAW cosine (τ = 0.3 sits ≥4.5e-4 from every
    // data value at all three SFs — no last-ulp coin flips), rounded
    // only for output
    "s_radius" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
                           list_dot_product(qv, v) / (qn * nrm) AS cos
                    FROM n CROSS JOIN q WHERE vec_id <> query_id)
         SELECT query_id, neighbor_id,
                floor(cos * 1000000 + 0.5) / 1000000 AS cos
         FROM scored WHERE cos >= 0.3""",
    // streaming SCD2 == the batch lead() window over the whole event
    // change log: each non-error event opens a version valid until the
    // user's next event (upsert or error tombstone); unclosed = current
    "e_scd2_stream" -> scd2StreamSql,
    // the REPAIRED history equals the same full-log lead(): the held-
    // out late changes are indistinguishable after the backfill
    "fs_scd2_backfill" -> scd2StreamSql,
    // streaming CDC view == latest event per user unless it tombstones
    "e_cdc_stream" ->
      """WITH latest AS (SELECT user_id, epoch_us(ts) AS last_seq_us,
                event_type AS last_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, last_seq_us, last_type,
                CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS last_value
         FROM latest WHERE rn = 1 AND last_type <> 'error'""",
    // exact finite-population Simpson: integer moments, one division;
    // a single-doc group has no pair and emits null
    "d_diversity" ->
      """WITH n AS (SELECT lang, source, count(*) AS ni
           FROM documents GROUP BY 1, 2),
         g AS (SELECT lang, sum(ni) AS n_docs, count(*) AS n_sources,
                      sum(ni * (ni - 1)) AS pairs
               FROM n GROUP BY 1)
         SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_sources AS BIGINT) AS n_sources,
                CASE WHEN n_docs > 1 THEN
                  floor(CAST(pairs AS DOUBLE) / (n_docs * (n_docs - 1))
                        * 1000000 + 0.5) / 1000000 END AS simpson
         FROM g""",
    // exact vocabulary Jaccard between source pairs, canonical a<b
    "t_source_overlap" ->
      """WITH sw AS (SELECT DISTINCT source, w FROM
                (SELECT source,
                        unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                           x -> x <> '')) AS w
                 FROM documents)),
         sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
                   FROM sw GROUP BY 1),
         inter AS (SELECT a.source AS source_a, b.source AS source_b,
                          CAST(count(*) AS BIGINT) AS n_inter
                   FROM sw a JOIN sw b
                     ON a.w = b.w AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT source_a, source_b, sa.sz AS n_a, sb.sz AS n_b, n_inter,
                floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
                      * 1000000 + 0.5) / 1000000 AS jaccard
         FROM inter JOIN sizes sa ON source_a = sa.source
                    JOIN sizes sb ON source_b = sb.source""",
    // runs vs the discrete median; ties at the median count as below
    "e_runs" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id,
                CAST(round(value * 100) AS BIGINT) AS v FROM events),
         m AS (SELECT event_type,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS med
               FROM e GROUP BY 1),
         s AS (SELECT e.event_type, (v > med) AS above,
                      lag(v > med) OVER (PARTITION BY e.event_type
                                         ORDER BY tsu, event_id) AS prev
               FROM e JOIN m USING (event_type))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
         FROM s GROUP BY 1""",
    // MATCH_RECOGNIZE-lite: purchase closes the most recent signup
    // unless an error intervened — running-max marks, identical windows.
    // The streaming NFA replay must land on the same card.
    "e_match" -> matchEpisodesSql,
    "e_match_stream" -> matchEpisodesSql,
    // exact ACF: centered series scaled to integers y = n·x − S, sums
    // of HUGEINT products (Spark mirrors in Decimal(38,0)), ONE double
    // division per lag; gap hours enter as zeros via generate_series
    "e_acf" ->
      """WITH h AS (SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
                CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
         b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM h),
         grid AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM b),
         series AS (SELECT g.hr, COALESCE(h.x, 0) AS x
                    FROM grid g LEFT JOIN h ON g.hr = h.hr),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s FROM series),
         y AS MATERIALIZED (SELECT hr, n * x - s AS y
                            FROM series CROSS JOIN m),
         den AS (SELECT sum(CAST(y AS HUGEINT) * y) AS den FROM y),
         lags AS (SELECT unnest(generate_series(1, 6)) AS lg),
         pairs AS (SELECT l.lg, y1.y AS ya, y2.y AS yb
                   FROM y y1 CROSS JOIN lags l
                   JOIN y y2 ON y1.hr + l.lg = y2.hr)
         SELECT lg, CAST(count(*) AS BIGINT) AS n_pairs,
                CASE WHEN (SELECT den FROM den) = 0 THEN NULL
                     ELSE CAST(sum(CAST(ya AS HUGEINT) * yb) AS DOUBLE)
                          / CAST((SELECT den FROM den) AS DOUBLE) END AS acf
         FROM pairs GROUP BY lg""",
    // Welch t: integer-exact moments (n, Σcents, HUGEINT Σcents²),
    // then the same double shapes as the Spark side — two nested
    // divisions for sea/seb, one sqrt, the Welch–Satterthwaite df
    "q_ttest" ->
      """WITH m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(round(value * 100) AS BIGINT)) AS s,
                  sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                      * CAST(round(value * 100) AS BIGINT)) AS q
           FROM events GROUP BY 1),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  a.n AS na, b.n AS nb, a.s AS sa, b.s AS sb,
                  a.q AS qa, b.q AS qb
           FROM m a JOIN m b ON a.event_type < b.event_type),
         c AS (
           SELECT type_a, type_b, na, nb,
                  CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
                  CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
                  CAST(na * qa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                    / CAST(na * (na - 1) AS DOUBLE) / CAST(na AS DOUBLE) AS sea,
                  CAST(nb * qb - CAST(sb AS HUGEINT) * sb AS DOUBLE)
                    / CAST(nb * (nb - 1) AS DOUBLE) / CAST(nb AS DOUBLE) AS seb
           FROM p)
         SELECT type_a, type_b, na, nb,
                floor(ma / 100.0 * 1000000 + 0.5) / 1000000 AS mean_a,
                floor(mb / 100.0 * 1000000 + 0.5) / 1000000 AS mean_b,
                CASE WHEN na < 2 OR nb < 2 OR sea + seb = 0.0 THEN NULL
                     ELSE floor((ma - mb) / sqrt(sea + seb) * 1000000 + 0.5)
                          / 1000000 END AS t_stat,
                CASE WHEN na < 2 OR nb < 2 OR sea + seb = 0.0 THEN NULL
                     ELSE floor((sea + seb) * (sea + seb)
                          / (sea * sea / CAST(na - 1 AS DOUBLE)
                             + seb * seb / CAST(nb - 1 AS DOUBLE))
                          * 1000000 + 0.5) / 1000000 END AS df
         FROM c""",
    // Kaplan-Meier: integer risk sets (inclusive cumulation backed out
    // by the own row), ln terms floored to 1e-12 fixed point before the
    // ordered sum, one exp at the end; a d=n step zeroes the curve via
    // the flag cumulation (never ln(0) in the sum)
    "q_survival" ->
      """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS du, o_orderkey FROM orders),
         hz AS (SELECT max(du) AS hz FROM o),
         g AS (SELECT o_custkey, du,
                      lead(du) OVER (PARTITION BY o_custkey
                                     ORDER BY du, o_orderkey) AS nxt
               FROM o),
         dur AS (SELECT CASE WHEN nxt IS NOT NULL THEN (nxt - du) // 86400000000
                             ELSE (hz - du) // 86400000000 END AS t,
                        CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
                 FROM g, hz),
         byt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                        CAST(count(*) AS BIGINT) AS dc
                 FROM dur GROUP BY 1),
         tot AS (SELECT CAST(sum(dc) AS BIGINT) AS n_total FROM byt),
         risk AS (SELECT t, d,
                         CAST(n_total - sum(dc) OVER (ORDER BY t
                              ROWS UNBOUNDED PRECEDING) + dc AS BIGINT) AS n
                  FROM byt, tot),
         ev AS (SELECT t, d, n,
                       CASE WHEN d = n THEN 0
                            ELSE CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                                 * 1000000000000.0 + 0.5) AS BIGINT) END AS lnf,
                       CASE WHEN d = n THEN 1 ELSE 0 END AS z
                FROM risk WHERE d > 0),
         s AS (SELECT t, d, n,
                      CAST(sum(lnf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ln,
                      CAST(sum(z) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_z
               FROM ev)
         SELECT t AS t_days, n AS n_risk, d AS n_events,
                CASE WHEN cum_z > 0 THEN 0.0
                     ELSE floor(exp(CAST(cum_ln AS DOUBLE) / 1000000000000.0)
                          * 1000000 + 0.5) / 1000000 END AS survival
         FROM s""",
    // ANOVA: same integer moments; the cross-group Σ S²/n rides
    // micro-unit longs so the k-term sum is order-free
    "q_anova" ->
      """WITH m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(round(value * 100) AS BIGINT)) AS s,
                  sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                      * CAST(round(value * 100) AS BIGINT)) AS q
           FROM events GROUP BY 1),
         g AS (
           SELECT n, q, s AS sg,
                  CAST(floor(CAST(CAST(s AS HUGEINT) * s AS DOUBLE)
                             / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS t6
           FROM m),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
                  sum(sg) AS st, sum(q) AS qt, CAST(sum(t6) AS BIGINT) AS t6
           FROM g),
         c AS (
           SELECT k, nn,
                  CAST(t6 AS DOUBLE) / 1000000.0
                    - CAST(CAST(st AS HUGEINT) * st AS DOUBLE) / CAST(nn AS DOUBLE) AS ssb,
                  CAST(qt AS DOUBLE) - CAST(t6 AS DOUBLE) / 1000000.0 AS ssw
           FROM a)
         SELECT k, nn AS n,
                floor(ssb * 1000000 + 0.5) / 1000000 AS ss_between,
                floor(ssw * 1000000 + 0.5) / 1000000 AS ss_within,
                CASE WHEN k < 2 OR nn <= k OR ssw = 0.0 THEN NULL
                     ELSE floor((ssb / CAST(k - 1 AS DOUBLE))
                          / (ssw / CAST(nn - k AS DOUBLE)) * 1000000 + 0.5)
                          / 1000000 END AS f_stat,
                CASE WHEN k < 2 OR nn <= k OR ssw = 0.0 THEN NULL
                     ELSE floor(ssb / (ssb + ssw) * 1000000 + 0.5)
                          / 1000000 END AS eta_sq
         FROM c""",
    // last-touch attribution: the winning touch travels as ONE packed
    // BIGINT (µs·4 + channel code) under max() — no IGNORE-NULLS
    // ordering to disagree on; same-µs click/view resolve to the
    // higher code (view) in both engines by the same integer max
    "e_attribution" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS tsu, value,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                  CASE WHEN event_type = 'click' THEN epoch_us(ts) * 4 + 1
                       WHEN event_type = 'view' THEN epoch_us(ts) * 4 + 2 END AS packed
           FROM events WHERE event_type IN ('click', 'view', 'purchase')),
         w AS (
           SELECT user_id, tsu, value, is_p,
                  max(packed) OVER (PARTITION BY user_id ORDER BY tsu, is_p
                                    ROWS UNBOUNDED PRECEDING) AS lastt
           FROM u),
         c AS (
           SELECT value,
                  CASE WHEN lastt IS NULL OR tsu - lastt // 4 > 604800000000 THEN 'none'
                       WHEN lastt % 4 = 1 THEN 'click' ELSE 'view' END AS channel
           FROM w WHERE is_p = 1)
         SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM c GROUP BY 1""",
    // Mann-Whitney U: doubled midranks (2·cum − cnt + 1) keep every
    // rank an integer; R, 2U, and the tie term are HUGEINT-exact; z is
    // the one fixed double shape, floored to 1e-6 like the Spark side
    "q_mwu" ->
      """WITH f AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type IN ('click', 'view')),
         vc AS (SELECT v,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                FROM f GROUP BY 1),
         c AS (SELECT ca, cb, ca + cb AS cnt,
                      sum(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
               FROM vc),
         r AS (SELECT ca, cb, cnt, 2 * cum - cnt + 1 AS rank2 FROM c),
         a AS (SELECT coalesce(CAST(sum(ca) AS BIGINT), 0) AS na,
                      coalesce(CAST(sum(cb) AS BIGINT), 0) AS nb,
                      coalesce(sum(CAST(ca AS HUGEINT) * rank2), 0) AS ra2,
                      coalesce(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt), 0) AS tsum
               FROM r),
         s AS (SELECT na, nb,
                      ra2 - CAST(na AS HUGEINT) * (na + 1) AS ua2,
                      CAST(na AS HUGEINT) * nb AS mu2,
                      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
                        (CAST(na + nb + 1 AS DOUBLE) - CAST(tsum AS DOUBLE) /
                          (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE))) AS sigma2
               FROM a)
         SELECT 'click' AS type_a, 'view' AS type_b, na AS n_a, nb AS n_b,
                CASE WHEN na < 1 OR nb < 1 THEN NULL
                     ELSE CAST(ua2 AS DOUBLE) / 2.0 END AS u_stat,
                CASE WHEN na < 1 OR nb < 1 OR sigma2 <= 0.0 THEN NULL
                     ELSE floor(CAST(ua2 - mu2 AS DOUBLE) / (2.0 * sqrt(sigma2))
                          * 1000000 + 0.5) / 1000000 END AS z_score
         FROM s""",
    // multi-touch attribution: integer cent·basis-point credit, weights
    // summing to exactly 10000 per purchase (remainders to the earliest
    // positions — a stated rule both engines apply identically)
    "e_attribution_multi" ->
      """WITH p AS (SELECT user_id AS pu, epoch_us(ts) AS ptsu, event_id AS pid,
                  CAST(round(value * 100) AS BIGINT) AS cents
                FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id AS tu, epoch_us(ts) AS ttsu, event_id AS tid,
                      event_type AS touch_channel
               FROM events WHERE event_type IN ('click', 'view')),
         j AS (SELECT p.pid, p.cents, t.ttsu, t.tid, t.touch_channel
               FROM p LEFT JOIN t ON p.pu = t.tu AND t.ttsu <= p.ptsu
                                 AND t.ttsu > p.ptsu - 604800000000),
         w AS (SELECT pid, cents, touch_channel,
                      CAST(count(tid) OVER (PARTITION BY pid) AS BIGINT) AS n,
                      row_number() OVER (PARTITION BY pid ORDER BY ttsu, tid) AS pos
               FROM j),
         b AS (SELECT cents,
                      CASE WHEN n = 0 THEN 'none' ELSE touch_channel END AS channel,
                      CASE WHEN n = 0 THEN 10000
                           ELSE 10000 // n +
                                CASE WHEN pos <= 10000 % n THEN 1 ELSE 0 END END AS lin_bp,
                      CASE WHEN n <= 1 THEN 10000
                           WHEN n = 2 THEN 5000
                           WHEN pos = 1 OR pos = n THEN 4000
                           ELSE 2000 // (n - 2) +
                                CASE WHEN pos - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
                      END AS pos_bp
               FROM w)
         SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
                CAST(sum(CAST(cents AS HUGEINT) * lin_bp) AS DOUBLE) / 1000000.0 AS linear_revenue,
                CAST(sum(CAST(cents AS HUGEINT) * pos_bp) AS DOUBLE) / 1000000.0 AS position_revenue
         FROM b GROUP BY 1""",
    // harmonic centrality: min-hop distances from EVERY source by the
    // same bounded recursion g_bfs replays, integer micro-unit 1/d
    // terms (1000000 // hops) so the per-node sum is order-free
    "g_harmonic" ->
      """WITH RECURSIVE edges AS (SELECT ns.n_name AS src, nc.n_name AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            GROUP BY ns.n_name, nc.n_name),
         sedges AS (SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM edges WHERE src <> dst) WHERE rn <= 3),
         r(s, node, d) AS (
            SELECT n_name, n_name, 0 FROM nation
            UNION
            SELECT r.s, e.dst, r.d + 1
            FROM r JOIN sedges e ON e.src = r.node
            WHERE r.d < 8),
         m AS (SELECT s, node, CAST(min(d) AS BIGINT) AS hops
               FROM r GROUP BY 1, 2),
         sc AS (SELECT s, CAST(count(*) AS BIGINT) AS nr,
                       CAST(sum(1000000 // hops) AS BIGINT) AS h6
                FROM m WHERE hops > 0 GROUP BY 1)
         SELECT n.n_name, coalesce(sc.nr, 0) AS n_reach,
                CAST(coalesce(sc.h6, 0) AS DOUBLE) / 1000000.0 AS harmonic
         FROM nation n LEFT JOIN sc ON n.n_name = sc.s""",
    // ties-included top-3 ≡ rank() ≤ 3 (the Spark side filters on the
    // 3rd-largest |resid| from the map-side topk aggregate)
    "e_deseason" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS tsu,
                CAST(round(value * 100) AS BIGINT) AS v,
                ((epoch_us(ts) // 3600000000) % 168) AS how
           FROM events),
         m AS (SELECT event_type, how,
                      CAST(sum(v) // count(*) AS BIGINT) AS expected
               FROM e GROUP BY 1, 2),
         r AS (SELECT e.event_type, event_id, tsu, expected,
                      CAST(v - expected AS BIGINT) AS resid
               FROM e JOIN m USING (event_type, how)),
         rk AS (SELECT *, rank() OVER (PARTITION BY event_type
                                       ORDER BY abs(resid) DESC) AS rk
                FROM r)
         SELECT event_type, event_id, tsu, expected, resid
         FROM rk WHERE rk <= 3""",
    // per-column exact profile; min/max as strings (integer/string
    // columns only — float formatting is engine-specific)
    "fs_analyze" ->
      """SELECT 'l_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
                CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                CAST(min(l_orderkey) AS VARCHAR) AS min_val,
                CAST(max(l_orderkey) AS VARCHAR) AS max_val FROM lineitem
         UNION ALL
         SELECT 'l_partkey', CAST(count(*) AS BIGINT),
                CAST(count(DISTINCT l_partkey) AS BIGINT),
                CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM lineitem
         UNION ALL
         SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
                CAST(count(DISTINCT l_suppkey) AS BIGINT),
                CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR) FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
                CAST(count(DISTINCT l_returnflag) AS BIGINT),
                CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                min(l_returnflag), max(l_returnflag) FROM lineitem
         UNION ALL
         SELECT 'l_linestatus', CAST(count(*) AS BIGINT),
                CAST(count(DISTINCT l_linestatus) AS BIGINT),
                CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                min(l_linestatus), max(l_linestatus) FROM lineitem""",
    // discrete-quartile reorder-gap card; same-day orders gap 0
    "q_reorder_gap" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                epoch_us(o_orderdate) // 86400000000 AS d FROM orders),
         g AS (SELECT d - lag(d) OVER (PARTITION BY o_custkey
                                       ORDER BY d, o_orderkey) AS gap
               FROM o)
         SELECT CAST(count(*) AS BIGINT) AS n_gaps,
                floor(CAST(sum(gap) AS DOUBLE) / count(*) * 1000000 + 0.5)
                  / 1000000 AS mean_gap_days,
                CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p25,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p50,
                CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p75
         FROM g WHERE gap IS NOT NULL""",
    // per-language length profile, discrete median
    "t_lang_profile" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                floor(CAST(sum(length(text)) AS DOUBLE) / count(*)
                      * 1000000 + 0.5) / 1000000 AS mean_chars,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS median_chars
         FROM documents GROUP BY lang""",
    // portable-hash bucket census; skew_ratio = max/avg
    "fs_skew" ->
      """WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS bucket
           FROM lineitem),
         per AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(n) AS BIGINT) AS n_rows,
                CAST(min(n) AS BIGINT) AS min_rows,
                CAST(max(n) AS BIGINT) AS max_rows,
                floor(CAST(max(n) AS DOUBLE) * 32 / sum(n) * 1000000 + 0.5)
                  / 1000000 AS skew_ratio
         FROM per""",
    // sweep-line peak concurrency over 30-min-gap sessions; −1 lands
    // just past the inclusive session end; earliest peak time wins
    "e_concurrency" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) AS tsu,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts)) AS prev
           FROM events),
         s AS (SELECT user_id, tsu,
                      CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                           THEN 1 ELSE 0 END AS is_new
               FROM g),
         t AS (SELECT user_id, tsu,
                      sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu
                                        ROWS UNBOUNDED PRECEDING) AS sid
               FROM s),
         sess AS (SELECT user_id, sid, min(tsu) AS st, max(tsu) AS en
                  FROM t GROUP BY 1, 2),
         deltas AS (SELECT st AS tt, 1 AS d FROM sess
                    UNION ALL SELECT en + 1, -1 FROM sess),
         vc AS (SELECT tt, sum(d) AS d FROM deltas GROUP BY tt),
         run AS (SELECT tt, sum(d) OVER (ORDER BY tt
                                         ROWS UNBOUNDED PRECEDING) AS conc
                 FROM vc)
         SELECT CAST(min(tt) AS BIGINT) AS peak_tsu,
                CAST(first(m) AS BIGINT) AS peak_concurrency
         FROM run CROSS JOIN (SELECT max(conc) AS m FROM run) mx
         WHERE conc = m""",
    // discrete k-quantile boundaries; ties leave later buckets empty
    "fs_histogram" ->
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
         c AS (SELECT
                 CAST(percentile_disc(0.125) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c1,
                 CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c2,
                 CAST(percentile_disc(0.375) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c3,
                 CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c4,
                 CAST(percentile_disc(0.625) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c5,
                 CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c6,
                 CAST(percentile_disc(0.875) WITHIN GROUP (ORDER BY v) AS BIGINT) AS c7
               FROM v),
         b AS (SELECT CASE WHEN v <= c1 THEN 1 WHEN v <= c2 THEN 2
                           WHEN v <= c3 THEN 3 WHEN v <= c4 THEN 4
                           WHEN v <= c5 THEN 5 WHEN v <= c6 THEN 6
                           WHEN v <= c7 THEN 7 ELSE 8 END AS bucket, v
               FROM v CROSS JOIN c)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                min(v) AS lo, max(v) AS hi
         FROM b GROUP BY bucket""",
    // time-shifted self-join (not row-lag — quiet hours are absent rows)
    "e_backtest" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                sum(CAST(round(value * 100) AS BIGINT)) AS v
           FROM events GROUP BY 1, 2),
         j AS (SELECT a.event_type, a.v, p.v AS pred
               FROM h a JOIN h p
                 ON p.event_type = a.event_type AND p.h = a.h - 168)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
                floor(CAST(sum(abs(v - pred)) AS DOUBLE) / count(*) / 100.0
                      * 1000000 + 0.5) / 1000000 AS mae
         FROM j GROUP BY event_type""",
    // order is NEW in its customer's first epoch-month
    "q_new_repeat" ->
      """WITH om AS (SELECT o_custkey,
                (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS m,
                CAST(round(o_totalprice * 100) AS BIGINT) AS x
           FROM orders),
         f AS (SELECT o_custkey, min(m) AS fm FROM om GROUP BY 1)
         SELECT CAST(m AS BIGINT) AS month,
                CAST(sum(CASE WHEN m = fm THEN x ELSE 0 END) AS DOUBLE) / 100.0 AS new_revenue,
                CAST(sum(CASE WHEN m <> fm THEN x ELSE 0 END) AS DOUBLE) / 100.0 AS repeat_revenue,
                CAST(sum(CASE WHEN m = fm THEN 1 ELSE 0 END) AS BIGINT) AS n_new_orders,
                CAST(sum(CASE WHEN m <> fm THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_orders
         FROM om JOIN f USING (o_custkey) GROUP BY m""",
    // LTV triangle: epoch-month cohorts, cumsum at cohort×offset grain
    "q_ltv" ->
      """WITH om AS (SELECT o_custkey,
                (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS m,
                CAST(round(o_totalprice * 100) AS BIGINT) AS x
           FROM orders),
         c AS (SELECT o_custkey, min(m) AS cm FROM om GROUP BY 1),
         cells AS (SELECT cm AS cohort_month, m - cm AS "offset",
                          CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
                          sum(x) AS rev_c
                   FROM om JOIN c USING (o_custkey) GROUP BY 1, 2)
         SELECT CAST(cohort_month AS BIGINT) AS cohort_month,
                CAST("offset" AS BIGINT) AS offset, n_active,
                CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
                CAST(sum(rev_c) OVER (PARTITION BY cohort_month
                                      ORDER BY "offset") AS DOUBLE) / 100.0 AS cum_revenue
         FROM cells""",
    // mean-DAU/WAU; quiet days count as zero (divide by 7, stated)
    "e_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                epoch_us(ts) // 86400000000 AS d FROM events),
         u2 AS (SELECT user_id, d, d // 7 AS wk FROM ud),
         dau AS (SELECT wk, CAST(count(*) AS BIGINT) AS ads FROM u2 GROUP BY wk),
         wau AS (SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
                 FROM u2 GROUP BY wk)
         SELECT CAST(wau.wk AS BIGINT) AS wk, wau,
                floor(CAST(ads AS DOUBLE) / 7.0 * 1000000 + 0.5) / 1000000 AS mean_dau,
                floor(CAST(ads AS DOUBLE) / 7.0 / wau * 1000000 + 0.5) / 1000000 AS stickiness
         FROM wau JOIN dau USING (wk)""",
    // weekly user motion; churn lands on the ABSENT week, horizon-bounded
    "e_growth" ->
      """WITH a AS (SELECT DISTINCT user_id,
                epoch_us(ts) // 604800000000 AS wk FROM events),
         f AS (SELECT user_id, min(wk) AS fw FROM a GROUP BY 1),
         cur AS (SELECT a.wk,
                        CASE WHEN a.wk = f.fw THEN 'new'
                             WHEN p.user_id IS NOT NULL THEN 'retained'
                             ELSE 'resurrected' END AS status
                 FROM a JOIN f USING (user_id)
                 LEFT JOIN a p ON p.user_id = a.user_id AND p.wk = a.wk - 1),
         ch AS (SELECT p.wk + 1 AS wk, 'churned' AS status
                FROM a p LEFT JOIN a c
                  ON c.user_id = p.user_id AND c.wk = p.wk + 1
                WHERE c.user_id IS NULL
                  AND (p.wk + 1) IN (SELECT wk FROM a))
         SELECT wk, status, CAST(count(*) AS BIGINT) AS n_users
         FROM (SELECT * FROM cur UNION ALL SELECT * FROM ch)
         GROUP BY 1, 2""",
    // lower weighted median by 2·S(v) ≥ W, naive window formulation
    "q_wmedian" ->
      """WITH vc AS (SELECT l_returnflag AS flag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                sum(CAST(round(l_quantity) AS BIGINT)) AS wc
           FROM lineitem GROUP BY 1, 2),
         s AS (SELECT flag, v, wc,
                      sum(wc) OVER (PARTITION BY flag ORDER BY v) AS cw,
                      sum(wc) OVER (PARTITION BY flag) AS wt
               FROM vc)
         SELECT flag AS l_returnflag,
                CAST(min(v) AS DOUBLE) / 100.0 AS wmedian_price,
                CAST(first(wt) AS BIGINT) AS total_weight
         FROM s WHERE cw * 2 >= wt GROUP BY flag""",
    // step counts + conversions over the same earliest-completion chain
    "e_funnel_rates" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         s1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'view' AND tsu > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'click' AND tsu > t2 GROUP BY 1),
         s4 AS (SELECT e.user_id, min(tsu) AS t4 FROM e JOIN s3 USING (user_id)
                WHERE event_type = 'purchase' AND tsu > t3 GROUP BY 1)
         SELECT 1 AS step_idx, 'signup' AS step,
                (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users, 1.0 AS conversion
         UNION ALL SELECT 2, 'view', (SELECT CAST(count(*) AS BIGINT) FROM s2),
                CASE WHEN (SELECT count(*) FROM s1) = 0 THEN NULL ELSE
                floor(CAST((SELECT count(*) FROM s2) AS DOUBLE)
                      / (SELECT count(*) FROM s1) * 1000000 + 0.5) / 1000000 END
         UNION ALL SELECT 3, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s3),
                CASE WHEN (SELECT count(*) FROM s2) = 0 THEN NULL ELSE
                floor(CAST((SELECT count(*) FROM s3) AS DOUBLE)
                      / (SELECT count(*) FROM s2) * 1000000 + 0.5) / 1000000 END
         UNION ALL SELECT 4, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s4),
                CASE WHEN (SELECT count(*) FROM s3) = 0 THEN NULL ELSE
                floor(CAST((SELECT count(*) FROM s4) AS DOUBLE)
                      / (SELECT count(*) FROM s3) * 1000000 + 0.5) / 1000000 END""",
    // contract card: null predicate results are non-violations on both
    // sides (CASE WHEN NOT p falls through)
    "fs_contract" -> contractSql,
    "sql_contract" -> contractSql,
    // discrete quartiles; 1.5·IQR fences as integer cross-multiplies
    "q_tukey" ->
      """WITH spend AS (SELECT o_custkey,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
           FROM orders GROUP BY 1),
         s2 AS (SELECT n.n_name, sp.x
           FROM spend sp
           JOIN customer c ON sp.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
         q AS (SELECT n_name,
                      percentile_disc(0.25) WITHIN GROUP (ORDER BY x) AS q1,
                      percentile_disc(0.75) WITHIN GROUP (ORDER BY x) AS q3
               FROM s2 GROUP BY 1)
         SELECT s2.n_name, CAST(count(*) AS BIGINT) AS n_cust,
                CAST(sum(CASE WHEN x * 2 < q1 * 2 - (q3 - q1) * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                CAST(sum(CASE WHEN x * 2 > q3 * 2 + (q3 - q1) * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                CAST(first(q1) AS BIGINT) AS q1, CAST(first(q3) AS BIGINT) AS q3
         FROM s2 JOIN q USING (n_name) GROUP BY s2.n_name""",
    // same recursive closure as p_leak_split; fold from the root's
    // salted md5 prefix at the i·256/5 hex boundaries
    "p_kfold" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
                WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION
                   SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         rooted AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS root
                    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         h AS (SELECT doc_id, root,
                      substr(md5(CAST(root AS VARCHAR) || ':fold'), 1, 2) AS hx
               FROM rooted)
         SELECT doc_id, root,
                CASE WHEN hx < '33' THEN 0 WHEN hx < '66' THEN 1
                     WHEN hx < '99' THEN 2 WHEN hx < 'cc' THEN 3
                     ELSE 4 END AS fold
         FROM h""",
    // integer-only datasheet: counts + discrete percentiles, one row
    // per metric — ratio-shaped numbers live in the dedicated cards
    "d_datasheet" ->
      """WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
                CAST(sum(length(text)) AS BIGINT) AS n_chars,
                CAST(max(length(text)) AS BIGINT) AS max_chars,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS median_chars,
                CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dup_surplus
           FROM documents),
         w AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(count(DISTINCT w) AS BIGINT) AS n_types
               FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                               x -> x <> '')) AS w FROM documents))
         SELECT 'n_docs' AS metric, n_docs AS value FROM base
         UNION ALL SELECT 'n_sources', n_sources FROM base
         UNION ALL SELECT 'n_langs', n_langs FROM base
         UNION ALL SELECT 'n_empty', n_empty FROM base
         UNION ALL SELECT 'n_chars', n_chars FROM base
         UNION ALL SELECT 'max_chars', max_chars FROM base
         UNION ALL SELECT 'median_chars', median_chars FROM base
         UNION ALL SELECT 'n_tokens', n_tokens FROM w
         UNION ALL SELECT 'n_types', n_types FROM w
         UNION ALL SELECT 'n_exact_dup_surplus', n_exact_dup_surplus FROM base""",
    // 4-step funnel, earliest-completion chain
    "e_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         s1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'view' AND tsu > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'click' AND tsu > t2 GROUP BY 1),
         s4 AS (SELECT e.user_id, min(tsu) AS t4 FROM e JOIN s3 USING (user_id)
                WHERE event_type = 'purchase' AND tsu > t3 GROUP BY 1)
         SELECT s1.user_id, t1 AS first_signup, t2 AS first_view,
                t3 AS first_click, t4 AS first_purchase
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
              LEFT JOIN s4 USING (user_id)""",
    // merged-schema view: the old batch's rows carry NULL priority
    "fs_evolve" ->
      """WITH m AS (SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
                NULL AS o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
                o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(price_c) AS DOUBLE) / 100.0 AS revenue
         FROM m GROUP BY o_orderpriority""",
    // value twin of BucketedJoinSpec's exchange-free plan proof
    "fs_bucket_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    // SQL-front-door twins: the TVF resolves to the operator's own
    // plan, so each reuses that operator's oracle verbatim
    "sql_asof" -> asOfSql,
    "sql_drift" -> driftSql,
    "sql_bm25" -> bm25Sql,
    "sql_bm25_phrase" ->
      operators.TextAnalysis.bm25PhraseOracleSql(Seq("data", "join")),
    "sql_dedup_minhash" -> ngramJaccardSql,
    "sql_mmr" -> mmrSql,
    // the TVF resolves to the operator's own plan, so it shares the
    // operator's oracle verbatim
    "sql_hard_negatives" -> hardNegSql,
  )

  /** Shared by d_containment and d_containment_auto (the routed entry
    * takes the exact arm at driver scale). */
  /** Shared feature frame for the t_quality_model / t_quality_scores
    * oracles: label = the Gopher five-rule verdict (all-integer
    * comparisons — the t_gopher_rules oracle text), features are
    * exact-integer pairs divided once (the t_quality recipe), so the
    * doubles are engine-identical. */
  private val QualityFeatureSql: String =
    """SELECT CASE WHEN (nw BETWEEN 50 AND 100000)
                    AND (swl >= nw * 3 AND swl <= nw * 10)
                    AND (nsym * 10 < nw) AND (nalpha * 5 > nw * 4)
                    AND (nstop >= 2) THEN 1.0 ELSE 0.0 END AS y,
              CAST(nw AS DOUBLE) / 100.0 AS x1,
              CAST(sh AS DOUBLE) / CAST(greatest(nw, 1) AS DOUBLE) AS x2,
              CAST(na AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE) AS x3
       FROM (
         SELECT len(tk) AS nw,
                len(list_filter(tk, x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS sh,
                length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                length(text) AS nc,
                length(regexp_replace(text, '\s', '', 'g')) AS swl,
                length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) // 3 AS nsym,
                len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha,
                len(list_filter(['the','a','of','and','to','is','in','that','it','as'],
                    s -> list_contains(tk, s))) AS nstop
         FROM (SELECT text,
                      list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
               FROM documents))"""

  /** [[QualityFeatureSql]] with doc_id kept (labels not needed), for
    * the scoring path. */
  private val QualityFeatureIdSql: String =
    """SELECT doc_id,
              CAST(nw AS DOUBLE) / 100.0 AS x1,
              CAST(sh AS DOUBLE) / CAST(greatest(nw, 1) AS DOUBLE) AS x2,
              CAST(na AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE) AS x3
       FROM (
         SELECT doc_id, len(tk) AS nw,
                len(list_filter(tk, x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS sh,
                length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                length(text) AS nc
         FROM (SELECT doc_id, text,
                      list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
               FROM documents))"""

  /** One GD step's fixed-point gradient sums: per-row nano-unit longs
    * under the rational sigmoid, summed order-free (QualityModel.gFix
    * mirrored textually). */
  private val GradSumSql: String =
    """sum(CAST(floor((((0.5 + z / (2.0 * (1.0 + abs(z)))) - y) * 1.0) * 1000000000.0 + 0.5) AS BIGINT)) AS g0,
       sum(CAST(floor((((0.5 + z / (2.0 * (1.0 + abs(z)))) - y) * x1) * 1000000000.0 + 0.5) AS BIGINT)) AS g1,
       sum(CAST(floor((((0.5 + z / (2.0 * (1.0 + abs(z)))) - y) * x2) * 1000000000.0 + 0.5) AS BIGINT)) AS g2,
       sum(CAST(floor((((0.5 + z / (2.0 * (1.0 + abs(z)))) - y) * x3) * 1000000000.0 + 0.5) AS BIGINT)) AS g3"""

  /** Unrolled training + the map-only scorer: the t_quality_scores
    * oracle, reused by d_quality_stream (the stateless streaming gate
    * is the batch scorer + threshold exactly). */
  private val QualityScoresSql: String =
    s"""WITH f AS ($QualityFeatureSql),
         fid AS ($QualityFeatureIdSql),
         nn AS (SELECT count(*) AS n FROM f),
         za AS (SELECT y, x1, x2, x3,
                       0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3 AS z FROM f),
         ga AS (SELECT $GradSumSql FROM za),
         wa AS (SELECT 0.0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       0.0 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       0.0 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       0.0 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM ga, nn),
         zb AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wa),
         gb AS (SELECT $GradSumSql FROM zb),
         wb AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gb, wa, nn),
         zc AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wb),
         gc AS (SELECT $GradSumSql FROM zc),
         wc AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gc, wb, nn)
         SELECT doc_id,
                floor((0.5 + z / (2.0 * (1.0 + abs(z)))) * 1000000 + 0.5) / 1000000 AS p_keep
         FROM (SELECT doc_id, w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM fid, wc)"""

  /** e_scd2_stream / fs_scd2_backfill mirror: the lead() chain over
    * the WHOLE change log — the streamed history must equal it under
    * any batching, and the backfilled history must equal it after
    * late changes are repaired in. */
  private val scd2StreamSql: String =
    """WITH ch AS (SELECT user_id, epoch_us(ts) AS us, event_id AS eid,
                CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
                event_type AS last_type,
                CAST(round(value * 100) AS BIGINT) AS value_cents
           FROM events),
         h AS (SELECT user_id, op, last_type, value_cents, us, eid,
                lead(us)  OVER w AS vt_us,
                lead(eid) OVER w AS vt_eid
           FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, eid))
         SELECT user_id, last_type,
                CAST(value_cents AS DOUBLE) / 100.0 AS last_value,
                us AS valid_from_us, eid AS valid_from_eid,
                vt_us AS valid_to_us, vt_eid AS valid_to_eid,
                vt_us IS NULL AS is_current
         FROM h WHERE op = 'u'"""

  /** t_bm25 / sql_bm25 mirror: the same ln idf shape, fixed-order
    * per-term sum, floor-rounded score as the rank key. */
  private val bm25Sql: String =
    """WITH toks AS (SELECT doc_id, word AS term
             FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
                   FROM documents)
             WHERE word <> ''),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('data', 'join', 'scan') GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         parts AS (SELECT tf.doc_id, tf.term,
                ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                   + 0.75 * (CAST(dl AS DOUBLE)
                             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS part
           FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), stats),
         sc AS (SELECT doc_id,
                coalesce(max(CASE WHEN term = 'data' THEN part END), 0.0)
                + coalesce(max(CASE WHEN term = 'join' THEN part END), 0.0)
                + coalesce(max(CASE WHEN term = 'scan' THEN part END), 0.0) AS s0
           FROM parts GROUP BY doc_id)
         SELECT doc_id, floor(s0 * 1000000.0 + 0.5) / 1000000.0 AS score
         FROM sc ORDER BY score DESC, doc_id LIMIT 10"""

  /** d_drift / sql_drift mirror: exact integer TVD numerator, the
    * (diff, cat) struct-max tie-break as a DESC/DESC row_number. */
  private val driftSql: String =
    """WITH cats AS (
           SELECT 'lang' AS feature,
                  coalesce(CAST(lang AS VARCHAR), '∅') AS cat,
                  doc_id % 2 = 0 AS is_base FROM documents
           UNION ALL
           SELECT 'source', coalesce(CAST(source AS VARCHAR), '∅'),
                  doc_id % 2 = 0 FROM documents
           UNION ALL
           SELECT 'len_bucket', coalesce(CAST(n_chars // 500 AS VARCHAR), '∅'),
                  doc_id % 2 = 0 FROM documents),
         j AS (SELECT feature, cat,
                      sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS n_b,
                      sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS n_c
               FROM cats GROUP BY feature, cat),
         t AS (SELECT feature, sum(n_b) AS tot_b, sum(n_c) AS tot_c
               FROM j GROUP BY feature),
         d AS (SELECT j.feature, cat, n_b, n_c, tot_b, tot_c,
                      abs(n_b * tot_c - n_c * tot_b) AS diff
               FROM j JOIN t ON j.feature = t.feature),
         r AS (SELECT *, row_number() OVER (PARTITION BY feature
                           ORDER BY diff DESC, cat DESC) AS rn FROM d),
         g AS (SELECT feature, CAST(count(*) AS BIGINT) AS n_cat,
                      CAST(min(tot_b) AS BIGINT) AS base_n,
                      CAST(min(tot_c) AS BIGINT) AS cur_n,
                      sum(diff) AS sum_diff
               FROM d GROUP BY feature)
         SELECT g.feature, g.n_cat, g.base_n, g.cur_n,
                floor(CAST(g.sum_diff AS DOUBLE)
                      / (2.0 * g.base_n * g.cur_n) * 1000000.0 + 0.5)
                  / 1000000.0 AS tvd,
                r.cat AS top_category,
                floor(CAST(r.diff AS DOUBLE)
                      / (CAST(g.base_n AS DOUBLE) * CAST(g.cur_n AS DOUBLE))
                      * 1000000.0 + 0.5) / 1000000.0 AS top_shift
         FROM g JOIN r ON g.feature = r.feature AND r.rn = 1"""

  /** [[QualityScoresSql]]'s weight chain re-rooted at the LABELED
    * feature rows (`f` keeps y; fid drops it) ending at the scored
    * `sc(y, p)` relation — shared by the calibration and AUC mirrors. */
  private val QualityScoredLabeledCtes: String =
    s"""f AS ($QualityFeatureSql),
         nn AS (SELECT count(*) AS n FROM f),
         za AS (SELECT y, x1, x2, x3,
                       0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3 AS z FROM f),
         ga AS (SELECT $GradSumSql FROM za),
         wa AS (SELECT 0.0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       0.0 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       0.0 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       0.0 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM ga, nn),
         zb AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wa),
         gb AS (SELECT $GradSumSql FROM zb),
         wb AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gb, wa, nn),
         zc AS (SELECT y, x1, x2, x3,
                       w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wb),
         gc AS (SELECT $GradSumSql FROM zc),
         wc AS (SELECT w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w0,
                       w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w1,
                       w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w2,
                       w3 - 0.5 * (CAST(g3 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS w3
                FROM gc, wb, nn),
         sc AS (SELECT y,
                       floor((0.5 + z / (2.0 * (1.0 + abs(z)))) * 1000000 + 0.5) / 1000000 AS p
                FROM (SELECT y, w0 + w1 * x1 + w2 * x2 + w3 * x3 AS z FROM f, wc))"""

  /** The q_mwu rank machinery pointed at the model's own scores:
    * distinct-score grain, twice-average-rank, one closing division. */
  private val QualityAucSql: String =
    s"""WITH $QualityScoredLabeledCtes,
         vc AS (SELECT p, sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS cp,
                       sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS cn
                FROM sc GROUP BY p),
         c AS (SELECT cp, cn, cp + cn AS cnt,
                      sum(cp + cn) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum
               FROM vc),
         a AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                      CAST(sum(cn) AS BIGINT) AS n_neg,
                      sum(CAST(cp AS BIGINT) * (2 * cum - cnt + 1)) AS s2
               FROM c)
         SELECT n_pos, n_neg,
                CASE WHEN n_pos < 1 OR n_neg < 1 THEN NULL
                     ELSE floor(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                          / (2.0 * n_pos * n_neg) * 1000000.0 + 0.5)
                            / 1000000.0 END AS auc
         FROM a"""

  /** The integer-exact decile fold of QualityModel.calibrationCard
    * over the shared scored-labeled chain. */
  private val QualityCalibrationSql: String =
    s"""WITH $QualityScoredLabeledCtes,
         qq AS (SELECT y, CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS q,
                       CAST(y * 1000000.0 AS BIGINT) AS yq FROM sc),
         g AS (SELECT least(q // 100000, CAST(9 AS BIGINT)) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
                      sum(q) AS sum_q,
                      sum((q - yq) * (q - yq)) AS sum_sq
               FROM qq GROUP BY 1)
         SELECT bucket, n, n_pos,
                floor(CAST(sum_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                      * 1000000.0 + 0.5) / 1000000.0 AS mean_p,
                floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                      * 1000000.0 + 0.5) / 1000000.0 AS emp_rate,
                floor(abs(CAST(sum_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
                          - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000.0 + 0.5) / 1000000.0 AS gap,
                floor(CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)
                      * 1000000.0 + 0.5) / 1000000.0 AS brier
         FROM g"""

  private val containmentSql: String =
    """WITH tok AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 3),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              floor(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz) * 1000000 + 0.5) / 1000000 AS containment
       FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
       WHERE CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz) >= 0.6"""

  /** d_dedup_sweep mirror: one mine at the loosest cutoff, conditional
    * counts on the ROUNDED jaccard at each threshold (the raw-value
    * base filter and rounded-value sweep mirror the Spark sides). */
  private val dedupSweepSql: String =
    """WITH tok AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 3),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       pairs AS (SELECT id_a, id_b,
              floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS j
         FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.25),
       ids AS (SELECT j, id_a AS id FROM pairs UNION ALL SELECT j, id_b FROM pairs),
       pa AS (SELECT CAST(sum(CASE WHEN j >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_25,
                     CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_50,
                     CAST(sum(CASE WHEN j >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_75
              FROM pairs),
       da AS (SELECT CAST(count(DISTINCT CASE WHEN j >= 0.25 THEN id END) AS BIGINT) AS n_docs_25,
                     CAST(count(DISTINCT CASE WHEN j >= 0.5 THEN id END) AS BIGINT) AS n_docs_50,
                     CAST(count(DISTINCT CASE WHEN j >= 0.75 THEN id END) AS BIGINT) AS n_docs_75
              FROM ids)
       SELECT * FROM pa CROSS JOIN da"""

  /** Shared by e_match (batch windows) and e_match_stream (stateful
    * streaming NFA replay) — one oracle, two execution models. */
  private val matchEpisodesSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
           FROM events),
         w AS (SELECT *,
                 max(CASE WHEN event_type = 'signup' THEN tsu END)
                   OVER win AS last_open,
                 max(CASE WHEN event_type = 'error' THEN tsu END)
                   OVER win AS last_fail
               FROM e
               WINDOW win AS (PARTITION BY user_id ORDER BY tsu, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_episodes,
                CAST(sum(tsu - last_open) AS BIGINT) AS total_dur_us,
                floor(CAST(sum(tsu - last_open) AS DOUBLE) / count(*)
                      * 1000000 + 0.5) / 1000000 AS mean_dur_us
         FROM w
         WHERE event_type = 'purchase' AND last_open IS NOT NULL
           AND (last_fail IS NULL OR last_fail < last_open)
         GROUP BY user_id"""

  /** Shared by d_dedup_ngram and d_dedup_minhash (see note above). */
  private val bruteTopkSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
                           list_dot_product(qv, v) / (qn * nrm) AS cos
                    FROM n CROSS JOIN q WHERE vec_id <> query_id),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM scored)
         SELECT query_id, neighbor_id, floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk FROM r WHERE rnk <= 10"""

  /** Shared MMR greedy tail: expects CTEs `n` (vec_id, v, nrm) and
    * `cand` (query_id, neighbor_id, rel) already in scope, continues
    * the WITH list (pairwise sims + sel1..sel5) and closes with the
    * final select. Scores are 6-decimal-floored BEFORE the argmax
    * (mirroring the Spark side); λ and its complement are the literals
    * 0.7 / 0.3 in both engines (1−0.7 computed at runtime is
    * 0.30000000000000004). */
  private val mmrTailSql: String = {
    val steps = (2 to 5).map { i =>
      s"""
         m$i AS (SELECT c.query_id, c.neighbor_id, c.rel, max(s.sim) AS maxsim
                 FROM cand c
                 JOIN sims s ON c.query_id = s.query_id AND c.neighbor_id = s.id_a
                 JOIN sel${i - 1} p ON s.query_id = p.query_id AND s.id_b = p.neighbor_id
                 WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
                                   WHERE x.query_id = c.query_id
                                     AND x.neighbor_id = c.neighbor_id)
                 GROUP BY 1, 2, 3),
         s$i AS (SELECT query_id, neighbor_id, score, $i AS pick FROM (
                   SELECT query_id, neighbor_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, neighbor_id) AS rnk
                   FROM (SELECT query_id, neighbor_id,
                                floor((0.7 * rel - 0.3 * maxsim) * 1000000 + 0.5) / 1000000 AS score
                         FROM m$i)) WHERE rnk = 1),
         sel$i AS (SELECT query_id, neighbor_id, score, pick FROM sel${i - 1}
                   UNION ALL SELECT query_id, neighbor_id, score, pick FROM s$i)"""
    }.mkString(",")
    s"""ce AS (SELECT query_id, neighbor_id, v, nrm
                FROM cand JOIN n ON neighbor_id = vec_id),
         sims AS (SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
                         floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                               * 1000000 + 0.5) / 1000000 AS sim
                  FROM ce a JOIN ce b ON a.query_id = b.query_id
                  WHERE a.neighbor_id <> b.neighbor_id),
         sel1 AS (SELECT query_id, neighbor_id, score, 1 AS pick FROM (
                    SELECT query_id, neighbor_id, score,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, neighbor_id) AS rnk
                    FROM (SELECT query_id, neighbor_id,
                                 floor(0.7 * rel * 1000000 + 0.5) / 1000000 AS score
                          FROM cand)) WHERE rnk = 1),$steps
         SELECT query_id, neighbor_id, score, pick FROM sel5"""
  }

  /** Attrition mirror — the CTE chain of the prep ladder emitting
    * the surviving count after each stage (shared by
    * d_prep_attrition and its SQL-front-door twin). */
  private val prepAttritionSql: String =
    """WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
         sig AS (
           SELECT doc_id, text,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS nw,
                  length(text) AS nc,
                  length(regexp_replace(text, '[^a-z]', '', 'g')) AS na,
                  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS np,
                  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x IN ('the','a','of','and','to','is','in','that','it','as'))) AS h_en
           FROM corpus),
         scored AS (
           SELECT doc_id, text,
                  CAST(h_en AS DOUBLE) / greatest(nw, 1) * 0.4
                    + least(CAST(na AS DOUBLE) / greatest(nw, 1) / 10.0, 1.0) * 0.3
                    + (1.0 - CAST(np AS DOUBLE) / greatest(nc, 1)) * 0.3 AS qs
           FROM sig),
         filt AS (SELECT * FROM scored WHERE qs >= 0.2),
         keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text)),
         uniq AS (SELECT f.doc_id, f.text FROM filt f JOIN keep USING (doc_id)),
         tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM uniq),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                   WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (SELECT src AS id, src AS r FROM edges
                   UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         dropping AS (SELECT id AS doc_id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) WHERE id <> component),
         ded AS (SELECT u.doc_id, u.text FROM uniq u ANTI JOIN dropping dr ON u.doc_id = dr.doc_id),
         bsh AS (SELECT DISTINCT doc_id AS bench_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
                       FROM documents WHERE doc_id < 20)
                 CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         dsh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM ded)
                 CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
         flagged AS (SELECT DISTINCT doc_id FROM (
                       SELECT d.doc_id, b.bench_id FROM dsh d JOIN bsh b USING (shingle)
                       GROUP BY d.doc_id, b.bench_id HAVING count(*) >= 3)),
         final AS (SELECT ded.doc_id FROM ded ANTI JOIN flagged fl ON ded.doc_id = fl.doc_id)
         SELECT 'input' AS stage, count(*) AS n_docs FROM corpus
         UNION ALL SELECT 'quality_lang', count(*) FROM filt
         UNION ALL SELECT 'exact_dedup', count(*) FROM uniq
         UNION ALL SELECT 'near_dedup', count(*) FROM ded
         UNION ALL SELECT 'decontaminated', count(*) FROM final"""

  /** Contract card mirror (shared by fs_contract and the
    * graft_contract TVF row sql_contract). */
  private val contractSql: String =
    """SELECT 'totalprice_positive' AS rule,
                CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         FROM orders
         UNION ALL
         SELECT 'status_domain',
                CAST(sum(CASE WHEN NOT (o_orderstatus IN ('F', 'O', 'P')) THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'orderdate_not_null',
                CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'orderkey_unique',
                CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'custkey_fk',
                (SELECT CAST(count(*) AS BIGINT)
                 FROM orders o
                 LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                   ON o.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL)"""

  /** The SCD2 demo change log (shared by fs_scd2 / fs_scd2_asof and
    * their oracles): keys ending 1 are upserted twice (v2 wins), keys
    * ending 6 are tombstoned after v1, other %5==1 keys get one
    * version. */
  private def scd2DemoChanges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    base.where(col("doc_id") % 5 === 1)
      .select(col("doc_id"), col("n_chars"),
        lit(1L).as("seq"), lit("u").as("op"))
      .unionAll(base.where(col("doc_id") % 10 === 1)
        .select(col("doc_id"), (col("n_chars") + 7000L).as("n_chars"),
          lit(2L).as("seq"), lit("u").as("op")))
      .unionAll(base.where(col("doc_id") % 10 === 6)
        .select(col("doc_id"), lit(null).cast("long").as("n_chars"),
          lit(3L).as("seq"), lit("d").as("op")))
  }

  /** Bottom-k sample mirror (shared by q_qsketch and its incremental-MV
    * twin fs_incr_qsketch — the merge is lossless, so one from-scratch
    * rebuild checks both): hash-ordered rank <= k is the sample;
    * min(val) per hash first so a hash collision resolves identically
    * in both engines; type-7 interpolation with matching expression
    * shape. */
  private val qsketchSql: String =
    """WITH hx AS (SELECT l_returnflag,
                     CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                     l_extendedprice AS val
              FROM lineitem),
         d AS (SELECT l_returnflag, hsh, min(val) AS val FROM hx GROUP BY l_returnflag, hsh),
         r AS (SELECT l_returnflag, val,
                      row_number() OVER (PARTITION BY l_returnflag ORDER BY hsh) AS rn
               FROM d),
         s AS (SELECT l_returnflag, list(val ORDER BY val) AS vals, CAST(count(*) AS BIGINT) AS n_sample
               FROM r WHERE rn <= 256 GROUP BY l_returnflag),
         q AS (SELECT l_returnflag, vals, n_sample,
                      0.5 * (CAST(n_sample AS DOUBLE) - 1.0) AS h50,
                      0.95 * (CAST(n_sample AS DOUBLE) - 1.0) AS h95
               FROM s),
         q2 AS (SELECT l_returnflag, vals, n_sample, h50, h95,
                       CAST(floor(h50) AS BIGINT) AS lo50,
                       least(CAST(floor(h50) AS BIGINT) + 1, n_sample - 1) AS hi50,
                       CAST(floor(h95) AS BIGINT) AS lo95,
                       least(CAST(floor(h95) AS BIGINT) + 1, n_sample - 1) AS hi95
                FROM q)
         SELECT l_returnflag, n_sample,
                floor((list_extract(vals, lo50 + 1)
                       + (h50 - lo50) * (list_extract(vals, hi50 + 1) - list_extract(vals, lo50 + 1)))
                      * 1000000 + 0.5) / 1000000 AS p50_est,
                floor((list_extract(vals, lo95 + 1)
                       + (h95 - lo95) * (list_extract(vals, hi95 + 1) - list_extract(vals, lo95 + 1)))
                      * 1000000 + 0.5) / 1000000 AS p95_est
         FROM q2"""

  /** As-of purchase attribution (shared by e_asof and its SQL-front-door
    * twin sql_asof — graft_asof resolves to the same plan). */
  private val asOfSql: String =
    """WITH u AS (
           SELECT user_id, epoch_us(ts) AS tsu,
                  CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                  CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS ord
           FROM events WHERE event_type IN ('view', 'purchase')),
         w AS (
           SELECT user_id, tsu, is_p,
                  max(view_ts) OVER (PARTITION BY user_id ORDER BY tsu, ord
                                     ROWS UNBOUNDED PRECEDING) AS last_view_us
           FROM u)
         SELECT user_id, tsu AS purchase_us, last_view_us FROM w WHERE is_p = 1"""

  /** MMR over the exact top-10 (bruteTopkSql's candidate chain). */
  private val mmrSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
                           list_dot_product(qv, v) / (qn * nrm) AS cos
                    FROM n CROSS JOIN q WHERE vec_id <> query_id),
         cand AS (SELECT query_id, neighbor_id,
                         floor(cos * 1000000 + 0.5) / 1000000 AS rel
                  FROM (SELECT query_id, neighbor_id, cos,
                               row_number() OVER (PARTITION BY query_id
                                                  ORDER BY cos DESC, neighbor_id) AS rnk
                        FROM scored)
                  WHERE rnk <= 10),
         $mmrTailSql"""

  /** IVF candidate chain (seeds → Lloyd pass → assignment → probed
    * scoring → ranked `r`), shared by the top-k oracle, the
    * IVF-candidate MMR oracle, and (via `baseWhere`) the upsert
    * oracle: the CENTROID stages (seeds, Lloyd) run over the filtered
    * base corpus only, while the assignment + search stages cover
    * everything — exactly the frozen-centroid upsert contract.
    * [[ivfCoreSqlFrom]] stops after the probe CTE `q` (assignment +
    * probing, shared with the QUANTIZED search oracle, which scores
    * int8 reconstructions instead of float vectors). */
  private def ivfChainSqlFrom(baseWhere: String): String =
    s"""${ivfCoreSqlFrom(baseWhere)},
         scored AS (SELECT q.query_id, a2.vec_id AS neighbor_id,
                           list_dot_product(q.qv, a2.v)
                             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a2.v, a2.v))) AS cos
                    FROM a2 JOIN q ON a2.cell_id = q.probe_cell AND a2.vec_id <> q.query_id),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM scored)"""

  private def ivfCoreSqlFrom(baseWhere: String): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         eb AS (SELECT vec_id, v FROM e WHERE $baseWhere),
         seeds AS (SELECT vec_id AS cell_id, v AS cv FROM eb
                   ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
                   LIMIT 16),
         a1 AS (SELECT vec_id, v, cell_id FROM (
                  SELECT eb.vec_id, eb.v, s.cell_id,
                         row_number() OVER (PARTITION BY eb.vec_id ORDER BY
                           list_dot_product(eb.v, s.cv)
                             / (sqrt(list_dot_product(eb.v, eb.v)) * sqrt(list_dot_product(s.cv, s.cv))) DESC,
                           s.cell_id) AS rn
                  FROM eb CROSS JOIN seeds s) WHERE rn = 1),""" + """
         m AS (SELECT cell_id, i AS pos,
                      sum(CAST(round(list_extract(v, i) * 1073741824.0) AS BIGINT)) AS sx,
                      count(*) AS n
               FROM a1 CROSS JOIN unnest(generate_series(1, len(v))) AS t(i)
               GROUP BY cell_id, i),
         cents AS (SELECT cell_id, list(CAST(sx AS DOUBLE) / n / 1073741824.0 ORDER BY pos) AS cv
                   FROM m GROUP BY cell_id),
         a2 AS (SELECT vec_id, v, cell_id FROM (
                  SELECT e.vec_id, e.v, c.cell_id,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(e.v, c.cv)
                             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           c.cell_id) AS rn
                  FROM e CROSS JOIN cents c) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS probe_cell FROM (
                 SELECT e.vec_id, e.v, c.cell_id,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cell_id) AS rn
                 FROM e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 4)"""

  private val ivfChainSql: String = ivfChainSqlFrom("TRUE")

  private val ivfTopkSql: String =
    s"""WITH $ivfChainSql
         SELECT query_id, neighbor_id, floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk FROM r WHERE rnk <= 10"""

  /** The upsert oracle: centroids from the 80% base only, assignment
    * + search over everything — the frozen-centroid contract. */
  private val ivfUpsertSql: String =
    s"""WITH ${ivfChainSqlFrom("vec_id % 5 <> 0")}
         SELECT query_id, neighbor_id, floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk FROM r WHERE rnk <= 10"""

  /** The QUANTIZED upsert oracle — the full frozen-quantizer contract
    * replayed in SQL: centroids trained on the 80% base (the shared
    * core chain), per-cell int8 residual scales frozen from the BASE
    * rows only, every vector (base + delta) coded against those frozen
    * artifacts with the same clamp (`greatest/least ±127`), and the
    * asymmetric search (q·c + s·(q·code)) / (|q|·|reconstruction|)
    * mirrored term by term. list() aggregates rebuild coordinate lists
    * in pos order so every dot product sums in the SAME index order as
    * the Spark side — bit-identical doubles, not approximately-equal. */
  /** The quantized-search chain (int8 encode against the quantizer
    * trained on `baseWhere` rows, asymmetric-distance probe, ranked
    * candidates in `rq`) — shared by the upsert oracle (base = 80%)
    * and the rerank oracle (base = whole corpus). */
  private def ivfQChainSqlFrom(baseWhere: String): String =
    s"""${ivfCoreSqlFrom(baseWhere)},
         rx AS (SELECT a2.vec_id, a2.cell_id, t.i AS pos,
                       list_extract(a2.v, t.i) - list_extract(c.cv, t.i) AS x
                FROM a2 JOIN cents c USING (cell_id)
                CROSS JOIN unnest(generate_series(1, len(a2.v))) AS t(i)),
         sc AS (SELECT cell_id,
                       CASE WHEN max(abs(x)) > 0 THEN max(abs(x)) / 127.0
                            ELSE 1.0 END AS s
                FROM rx WHERE $baseWhere GROUP BY cell_id),
         cd AS (SELECT rx.vec_id, rx.cell_id, rx.pos,
                       COALESCE(sc.s, 1.0) AS s,
                       greatest(-127.0, least(127.0,
                         round(rx.x / COALESCE(sc.s, 1.0)))) AS qc
                FROM rx LEFT JOIN sc USING (cell_id)),
         vq AS (SELECT cd.vec_id, cd.cell_id, max(cd.s) AS s,
                       list(cd.qc ORDER BY cd.pos) AS qv8,
                       list(list_extract(c.cv, cd.pos) + cd.qc * cd.s
                            ORDER BY cd.pos) AS vr
                FROM cd JOIN cents c USING (cell_id)
                GROUP BY cd.vec_id, cd.cell_id),
         vn AS (SELECT vec_id, cell_id, s, qv8,
                       sqrt(list_dot_product(vr, vr)) AS rnorm FROM vq),
         qp AS (SELECT q.query_id, q.qv, q.probe_cell,
                       list_dot_product(q.qv, c.cv) AS qdotc,
                       sqrt(list_dot_product(q.qv, q.qv)) AS qnorm
                FROM q JOIN cents c ON c.cell_id = q.probe_cell),
         scoredq AS (SELECT qp.query_id, vn.vec_id AS neighbor_id,
                       CASE WHEN vn.rnorm > 0 THEN
                         (qp.qdotc + vn.s * list_dot_product(qp.qv, vn.qv8))
                           / (qp.qnorm * vn.rnorm)
                       ELSE -2.0 END AS cos
                FROM vn JOIN qp ON vn.cell_id = qp.probe_cell
                               AND vn.vec_id <> qp.query_id),
         rq AS (SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS rnk
                FROM scoredq)"""

  private val ivfUpsertQSql: String =
    s"""WITH ${ivfQChainSqlFrom("vec_id % 5 <> 0")}
         SELECT query_id, neighbor_id,
                floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk
         FROM rq WHERE rnk <= 10"""

  /** Rerank oracle: quantized candidate pick (rnk ≤ k·alpha = 30 on
    * the UNROUNDED asymmetric cos, the same window Spark ranks on)
    * then the exact-cosine refine over only those pairs. */
  private val annRerankSql: String =
    s"""WITH ${ivfQChainSqlFrom("TRUE")},
         cand AS (SELECT query_id, neighbor_id FROM rq WHERE rnk <= 30),
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         qx AS (SELECT DISTINCT query_id, qv FROM q),
         qn2 AS (SELECT query_id, qv,
                        sqrt(list_dot_product(qv, qv)) AS qn FROM qx),
         ex AS (SELECT c.query_id, c.neighbor_id,
                       list_dot_product(qn2.qv, n.v) / (qn2.qn * n.nrm) AS cos
                FROM cand c JOIN n ON n.vec_id = c.neighbor_id
                            JOIN qn2 ON qn2.query_id = c.query_id),
         rr AS (SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS rnk
                FROM ex)
         SELECT query_id, neighbor_id,
                floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk
         FROM rr WHERE rnk <= 10"""

  /** Scale-path hard-negative oracle: quantized candidates at
    * rnk ≤ k·alpha = 40, label filter, exact refine — the
    * [[annRerankSql]] tail with the label inequality on the pool. */
  private val hardNegIvfSql: String =
    s"""WITH ${ivfQChainSqlFrom("TRUE")},
         cand AS (SELECT query_id, neighbor_id FROM rq WHERE rnk <= 40),
         lb AS (SELECT vec_id, label FROM embeddings),
         n AS (SELECT e.vec_id, e.v, lb.label,
                      sqrt(list_dot_product(e.v, e.v)) AS nrm
               FROM e JOIN lb USING (vec_id)),
         qx AS (SELECT DISTINCT query_id, qv FROM q),
         qn2 AS (SELECT qx.query_id, qx.qv,
                        sqrt(list_dot_product(qx.qv, qx.qv)) AS qn,
                        lb.label AS ql
                 FROM qx JOIN lb ON lb.vec_id = qx.query_id),
         ex AS (SELECT c.query_id, c.neighbor_id,
                       list_dot_product(qn2.qv, n.v) / (qn2.qn * n.nrm) AS cos
                FROM cand c JOIN n ON n.vec_id = c.neighbor_id
                            JOIN qn2 ON qn2.query_id = c.query_id
                WHERE n.label <> qn2.ql),
         rr AS (SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id) AS rnk
                FROM ex)
         SELECT query_id, neighbor_id,
                floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk
         FROM rr WHERE rnk <= 10"""

  /** Hard-negative oracle: the brute chain with the label inequality
    * in the pair predicate — wrong-label pairs never exist. */
  private val hardNegSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
         n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, label AS ql FROM n WHERE vec_id < 5),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
                           list_dot_product(qv, v) / (qn * nrm) AS cos
                    FROM n CROSS JOIN q
                    WHERE vec_id <> query_id AND label <> ql),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rnk
               FROM scored)
         SELECT query_id, neighbor_id,
                floor(cos * 1000000 + 0.5) / 1000000 AS cos, rnk
         FROM r WHERE rnk <= 10"""

  /** MMR over the IVF candidates — the scale-path rerank's oracle. */
  private val mmrIvfSql: String =
    s"""WITH $ivfChainSql,
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         cand AS (SELECT query_id, neighbor_id,
                         floor(cos * 1000000 + 0.5) / 1000000 AS rel
                  FROM r WHERE rnk <= 10),
         $mmrTailSql"""

  private val ngramJaccardSql: String =
    """WITH tok AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM tok CROSS JOIN unnest(generate_series(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 3),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              floor(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
       FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
       WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5"""
}
