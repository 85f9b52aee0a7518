package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Assignment is by salted md5 of the row id compared against hex-string
  * thresholds: fixed-width lowercase hex orders lexicographically exactly
  * as its numeric value, so the same rule runs unchanged on any engine
  * (no portable float RNG needed) and the assignment is stable under
  * repartitioning, re-runs, and engine swaps — the property that matters
  * when a 100 TB corpus is split or sampled incrementally. Both ops are
  * narrow (per-row predicate/projection, no shuffle at all).
  */
object Sampling {

  private def saltedHex(id: Column, salt: Column, width: Int): Column =
    substring(md5(concat(id.cast("string"), salt)), 1, width)

  /** train/val/test ≈ 80/10/10 assignment ('cc'/256 = 0.797,
    * 'e6'/256 = 0.898) as a plain column — usable as a map-only
    * `withColumn` with no join. */
  def splitColumn(id: Column): Column = {
    val b = saltedHex(id, lit(":split"), 2)
    when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
  }

  /** train/val/test hash split of a docs table. */
  def hashSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitColumn(col("doc_id")).as("split"))

  /** Deterministic 25% sample within each language ('4'/16 = 0.25); the
    * stratum is part of the salt so strata sample independently. */
  def stratifiedSample(docs: DataFrame): DataFrame =
    docs
      .where(saltedHex(col("doc_id"), concat(lit(":sample:"), col("lang")), 1) < "4")
      .select(col("doc_id"), col("lang"))

  /** Weighted Bernoulli sample: keep each row with probability
    * weight/max(weight) — the "sample good documents more" primitive
    * (weight = quality score, length, source trust). Deterministic and
    * engine-portable: the row's salted 60-bit hash is its uniform draw,
    * and the keep test `hash < (w / wMax) · 2⁶⁰` is plain double
    * arithmetic with one shape on both engines. The max is a 1-row
    * broadcast; the pass itself is map-only. */
  def weightedSample(docs: DataFrame, weightCol: String): DataFrame = {
    val wMax = docs.agg(max(col(weightCol)).as("mw"))
    val h = orderHash(col("doc_id"), ":wsample")
    docs.select(col("doc_id"), col(weightCol))
      .crossJoin(broadcast(wMax))
      .where(h.cast("double") <
        col(weightCol).cast("double") / col("mw").cast("double") * lit(1152921504606846976.0))
      .select(col("doc_id"), col(weightCol))
  }

  /** Engine-portable 60-bit order hash (15 hex chars of salted md5 —
    * same construction as [[graft.operators.TextAnalysis.portableHash60]]
    * but salted, so each consumer draws an independent order). Computed
    * by the native varargs `portable_hash60(id, salt)` kernel — same
    * value (spec-pinned), none of the per-row cast → concat → 32-char
    * hex render → base-16 parse chain this column composition paid. */
  private def orderHash(id: Column, salt: String): Column =
    graft.functions.PortableHash60.portableHash60(id, lit(salt))

  /** Data-mixture sampling: each source (domain, crawl, provenance
    * bucket) keeps a CONFIGURED fraction of its rows — the knob that
    * turns "we have 40% low-grade web and 2% reference text" into the
    * mixture the training run actually wants. Deterministic per-row
    * hash draw against the source's rate (same salted-md5 uniform as
    * [[weightedSample]]), so re-runs, engine swaps, and incremental
    * batches keep identical rows. Map-only: rates compile into the
    * plan as a literal CASE — no join, no shuffle, and the scan
    * prunes to (id, source). Sources absent from `rates` keep
    * `defaultRate`. */
  def mixtureSample(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    val draw = orderHash(col("doc_id"), ":mix").cast("double") /
      lit(1152921504606846976.0)
    docs.select(col("doc_id"), col("source"))
      .where(draw < rate)
  }

  /** Distributed global prefix sum of `n` over the deterministic
    * (hash, id) total order — WITHOUT a single-partition window over
    * the corpus.
    *
    * Two-level scan: the top 7 bits of the 60-bit order hash are a
    * bucket that is MONOTONE in the hash, so (bucket, hash, id) order
    * equals global (hash, id) order by construction (no sampled range
    * boundaries, no skew surprises — md5 buckets are uniform).
    * Per-bucket running sums are 128-way parallel windows; bucket
    * offsets are one 128-row aggregate cumsum (bounded metadata — the
    * only unpartitioned window, never the corpus) broadcast back.
    * At 1000 executors the corpus is touched by exactly one shuffle
    * (the bucket exchange) and one tiny broadcast. */
  private def prefixSum(df: DataFrame, id: String, n: String, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("h", orderHash(col(id), salt))
      .withColumn("b", shiftright(col("h"), 53))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("h"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("b")).agg(sum(col(n)).as("bt"))
      .withColumn("b_off", coalesce(sum(col("bt")).over(
        Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("b_off"))
    base
      .withColumn("cum_in", sum(col(n)).over(inBucket))
      .join(broadcast(offsets), "b")
      .withColumn("global_start", col("b_off") + col("cum_in") - col(n))
  }

  /** Sequence packing: assign each document to a fixed-token-budget
    * training sequence by its global token offset in a deterministic
    * shuffled order — the distributed form of "concatenate the shuffled
    * corpus and cut every `budget` tokens". seq_id = offset div budget;
    * consecutive seq_ids are contiguous token ranges, so a writer can
    * partition by seq_id and stream sequences out. */
  def packSequences(docs: DataFrame, budget: Long = 2048): DataFrame = {
    val sized = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    prefixSum(sized, "doc_id", "n_tokens", ":pack")
      .select(col("doc_id"), col("n_tokens"), col("global_start"),
        expr(s"global_start div $budget").as("seq_id"))
  }

  /** Deterministic seeded global shuffle for training order: a dense
    * 0-based position in md5(id + ":shuffle") order, plus the shard it lands
    * in at `shardSize` rows per shard. Same two-level prefix-sum —
    * no single-partition row_number over the corpus. */
  def shuffleOrder(docs: DataFrame, shardSize: Long = 1000): DataFrame = {
    val ones = docs.select(col("doc_id"), lit(1L).as("one"))
    prefixSum(ones, "doc_id", "one", ":shuffle")
      .select(col("doc_id"), col("global_start").as("pos"),
        expr(s"global_start div $shardSize").as("shard"))
  }

  /** Deterministic round-robin INTERLEAVE of two corpora at an exact
    * integer ratio — the mixture SCHEDULE that [[mixtureSample]]'s
    * rates imply, materialized as a total training order without RNG:
    * in every period of `ratioA + ratioB` slots, the first `ratioA`
    * go to side a and the rest to side b, each side consumed in its
    * own deterministic [[shuffleOrder]] position. Slot arithmetic is
    * pure integer div/mod of those positions, so the schedule is
    * engine-replayable; sides' slot sets are disjoint by construction,
    * and when one side exhausts its remaining slots stay empty (the
    * consumer reads slot order — gaps are harmless and deterministic).
    * Scale shape: two prefix-sum scans + a union; nothing global. */
  def interleave(a: DataFrame, b: DataFrame, ratioA: Int = 3,
      ratioB: Int = 1): DataFrame = {
    require(ratioA > 0 && ratioB > 0, "interleave ratios must be positive")
    val period = (ratioA + ratioB).toLong
    val sa = shuffleOrder(a)
      .select(col("doc_id"), lit("a").as("side"),
        (expr(s"pos div $ratioA") * period +
          pmod(col("pos"), lit(ratioA.toLong))).as("slot"))
    val sb = shuffleOrder(b)
      .select(col("doc_id"), lit("b").as("side"),
        (expr(s"pos div $ratioB") * period + ratioA +
          pmod(col("pos"), lit(ratioB.toLong))).as("slot"))
    sa.unionAll(sb)
  }

  /** Shard MANIFEST — the data card a packed dataset ships with: for
    * each shard of [[shuffleOrder]]'s deterministic assignment, the
    * doc/token/char totals, source diversity, and the position range
    * proving the shard is a contiguous slice of the global order. The
    * shuffle's prefix sum runs over the audited columns themselves, so
    * nothing joins back on `doc_id`; then one hash aggregation keyed on
    * ≤ ⌈N/shardSize⌉ shards, all exact integer aggregates. The audit a
    * consumer runs BEFORE training to catch truncated uploads, skewed
    * source mix, or token-budget drift — per shard, without scanning
    * shard contents. */
  def shardManifest(docs: DataFrame, shardSize: Long = 1000): DataFrame = {
    val audited = docs.select(col("doc_id"), col("source"),
      col("n_chars").cast("long").as("nc"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"),
      lit(1L).as("one"))
    prefixSum(audited, "doc_id", "one", ":shuffle")
      .groupBy(expr(s"global_start div $shardSize").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        min(col("global_start")).as("pos_lo"),
        max(col("global_start")).as("pos_hi"))
  }

  /** Temperature-scaled stratum rebalancing — the multilingual-LM
    * "alpha sampling" knob (sample stratum i with probability ∝
    * pᵢ^α instead of its natural share pᵢ), realized as a per-row
    * Bernoulli keep with rate (n_min/nᵢ)^(1-α) at α = 0.5 per
    * language: the rarest language keeps everything, one 10× larger
    * keeps √(1/10) ≈ 32% — flattening the mix toward uniform without
    * upsampling (no row is duplicated, so downstream dedup/packing
    * stay exact).
    *
    * Cross-engine exactness holds because the rate is
    * sqrt(n_min/nᵢ) and IEEE-754 requires sqrt and divide to be
    * correctly rounded — the same double on every engine.
    *
    * Scale shape: one 2-column count aggregate, a ≤|strata|-row
    * broadcast back, and a map-only filter — the 100 TB corpus is
    * scanned once and never shuffled. */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val stratumCol = "lang"
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_stratum"))
    val nMin = counts.agg(min(col("n_stratum")).as("n_min"))
    val rate = sqrt(col("n_min").cast("double") / col("n_stratum").cast("double"))
    val draw = orderHash(col("doc_id"), ":temp").cast("double") /
      lit(1152921504606846976.0)
    docs.select(col("doc_id"), col(stratumCol))
      .join(broadcast(counts), stratumCol)
      .crossJoin(broadcast(nMin))
      .where(draw < rate)
      .select(col("doc_id"), col(stratumCol))
  }

  /** Per-source cap: keep at most k docs per source, chosen by smallest
    * salted hash — i.e. a uniform without-replacement draw of k per
    * group, deterministic under re-runs and engine swaps. The
    * "no source dominates the mix" guard that runs right before
    * [[mixtureSample]] rates are tuned.
    *
    * Deliberately the plain `row_number() ≤ k` window: Catalyst's
    * InferWindowGroupLimit rewrites rank-limit filters into a
    * WindowGroupLimit PARTIAL operator that runs BEFORE the exchange,
    * so each map task forwards at most k rows per group and a 50%-hot
    * source ships the same bytes as a cold one (measured: 0.5 MiB
    * shuffled for a 20M-row half-hot corpus, vs hundreds with the rule
    * excluded). A hand-rolled bounded-heap aggregate was
    * built, measured equal here and 4× SLOWER in the many-group regime
    * (typed aggregates leave whole-stage codegen and fall back to
    * sort-based aggregation past ~128 distinct groups per task), and
    * deleted — the built-in plan IS the bounded top-k, spec-pinned via
    * the WindowGroupLimit node in `Round4SamplingSpec`. */
  def capPerGroup(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = orderHash(col("doc_id"), ":cap")
    docs.select(col("source"), h.as("h"), col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("source"))
  }

  /** LEAKAGE-SAFE split: near-duplicate documents must land in the
    * same train/val/test side, or held-out eval silently scores on
    * paraphrases of training data — the contamination bug a 100 TB
    * pipeline ships without noticing (same failure class
    * `d_contamination` measures after the fact; this prevents it at
    * split time). Assignment hashes each near-dup COMPONENT's root
    * instead of the doc id: pair-connected docs share the root
    * (transitively, via [[Dedup.connectedComponents]]), singletons
    * root at themselves — so no mined pair ever straddles a split
    * boundary, and the 80/10/10 proportions hold at component grain.
    * Cost on top of the pair mine: one components pass + one join. */
  /** WEIGHTED mixture epoch plan — the budgeting arithmetic behind
    * weighted mixtures (`p_mix` applies such rates row-wise; this PLANS
    * them from the measured token inventory): source i gets
    * `targetTokens · wᵢ / Σw` (Σw over the sources actually present,
    * so absent map entries never skew the shares), reported with the
    * epochs that share buys AND the implied per-source keep rate
    * [[mixtureSample]] would apply — `keep_rate = min(1, epochs)`:
    * a source whose share is under one epoch is subsampled at exactly
    * that rate, a source with epochs > 1 keeps everything and the
    * epochs column is its repeat factor. The card's (source,
    * keep_rate) pairs are the literal rates map `mixtureSample` takes,
    * which is the consistency contract (spec-asserted): the card PLANS
    * precisely what the sampler APPLIES.
    *
    * One source-grain aggregate + a 1-row broadcast; weights compile
    * into the plan as a literal CASE. Small-integer weights keep Σw
    * exact in doubles, so every emitted double is a correctly-rounded
    * function of exact integers — engine-identical. */
  def epochPlanWeighted(docs: DataFrame, targetTokens: Long = 1000000L,
      weights: Map[String, Double] = Map.empty): DataFrame = {
    val w = weights.foldLeft(lit(1.0)) { case (acc, (src, x)) =>
      when(col("source") === src, lit(x)).otherwise(acc)
    }
    val inv = docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .withColumn("weight", w)
    val tot = inv.agg(sum(col("weight")).as("w_sum"))
    val share = lit(targetTokens).cast("double") * col("weight") / col("w_sum")
    inv.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        share.as("share_tokens"),
        (share / col("n_tokens")).as("epochs"),
        least(lit(1.0), share / col("n_tokens")).as("keep_rate"))
  }

  /** Mixture EPOCH plan — the data card a training run is provisioned
    * from: each source gets an equal share of `targetTokens`, and the
    * card reports how many EPOCHS of that source the share buys
    * (epochs > 1 ⇒ the source must be oversampled/repeated; ≪ 1 ⇒ it
    * is subsampled). [[epochPlanWeighted]] with every weight 1,
    * without its `weight` and `keep_rate` columns: Σw is then the
    * exact source count, so each double is the same correctly-rounded
    * quotient of exact integers as a plain division by it. */
  def epochPlan(docs: DataFrame, targetTokens: Long = 1000000L): DataFrame =
    epochPlanWeighted(docs, targetTokens)
      .select("source", "n_docs", "n_tokens", "share_tokens", "epochs")

  /** Curriculum phases data card — quality-quartile provisioning for
    * curriculum training (feed cleaner text later, or earlier —
    * whichever schedule, the PHASES need defining first): quartile
    * cutoffs of the composite quality score, each doc assigned the
    * lowest phase whose cutoff admits it, and per-phase doc/token
    * totals plus the mean quality. Cutoffs use `percentile_disc`
    * (SQL-standard discrete percentile — an ACTUAL score value, so the
    * cutoff is a 1e-6 multiple both engines agree on bit-for-bit;
    * interpolated percentiles differ in last-ulp association across
    * engines and could flip boundary docs). Mean quality accumulates
    * the 1e-6-scaled scores as exact longs, one closing division.
    *
    * Scale shape: the quality scan (map-only), a 1-row percentile
    * aggregate broadcast back, one 4-group aggregate. */
  def curriculumCard(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val scored = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score").as("q"),
        col("n_words").cast("long").as("t"))
    val cuts = scored.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY q)").as("q1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY q)").as("q2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY q)").as("q3"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("phase",
        when(col("q") <= col("q1"), 1)
          .when(col("q") <= col("q2"), 2)
          .when(col("q") <= col("q3"), 3)
          .otherwise(4))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        round6((sum(expr("CAST(round(q * 1000000) AS BIGINT)")).cast("double")
          / count(lit(1))) / 1e6).as("mean_quality"))
  }

  /** Leakage-safe K-FOLD assignment — [[leakSafeSplit]]'s property at
    * cross-validation shape: the fold is hashed from each near-dup
    * component's ROOT, so no mined pair ever straddles folds. Fold
    * boundaries are the hex prefixes at i·256/k (k=5 → '33' '66' '99'
    * 'cc': 51/51/51/51/52 of 256 — deterministic, approximately equal,
    * and literally mirrorable in any engine with md5). */
  def kfoldLeakSafe(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val k = 5
    val comp = graft.operators.Dedup.connectedComponents(pairs)
    val rooted = docs.join(comp, docs("doc_id") === comp("id"), "left")
      .select(docs("doc_id"),
        coalesce(col("component"), docs("doc_id")).as("root"))
    val b = saltedHex(col("root"), lit(":fold"), 2)
    val bounds = (1 until k).map(i => f"${i * 256 / k}%02x")
    val fold = bounds.zipWithIndex.foldRight(lit(k - 1)) {
      case ((bd, i), els) => when(b < lit(bd), lit(i)).otherwise(els)
    }
    rooted.withColumn("fold", fold.cast("int"))
  }

  def leakSafeSplit(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.operators.Dedup.connectedComponents(pairs)
    docs.join(comp, docs("doc_id") === comp("id"), "left")
      .select(docs("doc_id"),
        coalesce(col("component"), docs("doc_id")).as("root"))
      .withColumn("split", splitColumn(col("root")))
  }

  /** Fill a training token budget by quality rank: documents are
    * ordered best-first (quality desc, doc_id tie-break) and the
    * prefix whose CUMULATIVE whitespace-token count fits the budget is
    * kept — the "pick the best N-billion tokens" selection step of a
    * data-constrained training run (prefix cut, not a knapsack: a doc
    * that overflows the budget ends the prefix).
    *
    * Scale shape: the global best-first cumulative sum rides the
    * audited two-level bucket-monotone scan ([[Cumulative.runningSum]]
    * — per-bucket windows + a ≤128-row offset table), NOT a
    * single-partition window. The order key is ONE collision-free
    * long — (quality micro-units, descending) ⊕ doc_id — so ties are
    * impossible and the cumsum is engine-exact. Contract: doc_id <
    * 1e10 (the packing headroom; a 100 TB corpus with wider ids would
    * widen the key to decimal(38)). */
  def tokenBudget(docs: DataFrame, budget: Long = 12000L): DataFrame = {
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_words").as("ws_tokens"), col("quality_score"))
      // quality_score is round6-floored: ·1e6 sits on an integer ±1 ulp,
      // so round() recovers the exact micro-units (the Exact.cents rule)
      .withColumn("__key",
        (lit(2000000L) - round(col("quality_score") * 1000000).cast("long"))
          * 10000000000L + col("doc_id"))
      .withColumn("__g", lit(1))
    Cumulative.runningSum(q, Seq("__g"), "__key", "ws_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("quality_score"), col("ws_tokens"),
        col("cum_tokens"))
  }
}
