package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable quality classifier: full-batch gradient descent over
  * cheap per-document text features, reproducible to the bit across
  * engines and cluster layouts.
  *
  * The pipeline stage this re-expresses is model-based quality
  * filtering by HEURISTIC-LABEL DISTILLATION (the fastText-classifier
  * recipe: train a cheap model on labels produced by a rule gate, then
  * deploy the model's SOFT score where the brittle rule boundary would
  * misrank): the label is the Gopher rule-gate verdict
  * ([[TextAnalysis.gopherRules]]'s five integer-exact rules), the
  * features are three surface signals (word count, stop-word ratio,
  * alpha ratio). The training loop is the Spark-native shape: each
  * iteration is ONE map-side-combinable aggregate over the feature
  * table (4 longs + a count to the driver — bounded metadata), so an
  * epoch at 100 TB is a single pass with no shuffle beyond the final
  * 1-row combine, and the iteration count is a fixed hyperparameter,
  * not a data-dependent loop.
  *
  * Two determinism devices make the result engine-exact (the same
  * rules the rest of the repo uses — see Exact.round6):
  *  - the activation is the RATIONAL sigmoid 0.5 + z/(2(1+|z|)) —
  *    only +,*,/,abs, all IEEE-correctly-rounded in both engines,
  *    unlike exp() whose last ulp is libm-specific;
  *  - per-document gradients are rounded to integer NANO-units and
  *    summed as longs, so the distributed sum is ORDER-FREE (double
  *    sums are partition-order-dependent; long sums commute exactly).
  *    Bound: |per-doc grad| ≤ 2e9 nano-units, so the long sum is safe
  *    to ~4e9 documents per job; past that, widen to decimal(38,0).
  *
  * Reference analog: the scoring half of quality filtering
  * (reference: mapreduce_plugin_mock/reviews.go computes per-record
  * derived scores map-side); training is new surface the reference
  * lacks.
  */
object QualityModel {

  /** Learning rate: fixed, part of the op's contract (the oracle
    * replays the same constant). */
  private val Lr = 0.5
  /** Full-batch steps every card and the scorer train with. */
  private val Iters = 3
  private val NanoScale = 1.0e9

  /** Per-doc features, each an exact-integer pair divided ONCE (the
    * engine-identical double recipe): bias, words/100, stop-word
    * ratio, alpha-char ratio. Label = the Gopher five-rule verdict
    * (all-integer comparisons — exact in any engine). `withId` keeps
    * doc_id for the scoring path. */
  private[graft] def features(docs: DataFrame, withId: Boolean = false): DataFrame = {
    import TextAnalysis.{tokens, hitCount, EnStopwords}
    val idCols = if (withId) Seq(col("doc_id")) else Seq.empty
    val base = docs
      .select(idCols ++ Seq(col("text"), tokens(col("text")).as("tk")): _*)
      .select(idCols ++ Seq(
        size(col("tk")).as("nw"),
        hitCount(col("tk"), EnStopwords).as("sh"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("na"),
        length(col("text")).as("nc"),
        // gopher-rule inputs (TextAnalysis.gopherRules, EnStopwords)
        length(regexp_replace(col("text"), "\\s", "")).as("swl"),
        (length(col("text")) - length(expr("replace(text, '#', '')")) +
          expr("(length(text) - length(replace(text, '...', ''))) div 3"))
          .as("nsym"),
        size(filter(col("tk"), w => w.rlike("[a-zA-Z]"))).as("nalpha"),
        size(filter(typedLit(EnStopwords), s => array_contains(col("tk"), s)))
          .as("nstop")): _*)
    base.select(idCols ++ Seq(
      when(col("nw").between(50, 100000)
          && col("swl") >= col("nw") * 3 && col("swl") <= col("nw") * 10
          && col("nsym") * 10 < col("nw")
          && col("nalpha") * 5 > col("nw") * 4
          && col("nstop") >= 2, 1.0).otherwise(0.0).as("y"),
      (col("nw").cast("double") / 100.0).as("x1"),
      (col("sh").cast("double") / greatest(col("nw"), lit(1)).cast("double")).as("x2"),
      (col("na").cast("double") / greatest(col("nc"), lit(1)).cast("double")).as("x3")): _*)
  }

  /** z = ((w0 + w1·x1) + w2·x2) + w3·x3 — explicit left association,
    * mirrored textually in the oracle SQL. */
  private def zOf(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")

  /** Rational sigmoid: 0.5 + z / (2·(1+|z|)). */
  private def sig(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** One fixed-point gradient component: floor(((p−y)·x)·1e9 + 0.5)
    * as a long. */
  private def gFix(p: Column, x: Column): Column =
    floor(((p - col("y")) * x) * NanoScale + 0.5).cast("long")

  /** `iters` full-batch steps from w = 0. One bounded 1-row collect
    * per step (the Bpe.encode / Graph fixed-point pattern). */
  private[graft] def train(feats: DataFrame, iters: Int): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    var i = 0
    while (i < iters) {
      val p = sig(zOf(w))
      val row = feats.agg(
        sum(gFix(p, lit(1.0))).as("g0"),
        sum(gFix(p, col("x1"))).as("g1"),
        sum(gFix(p, col("x2"))).as("g2"),
        sum(gFix(p, col("x3"))).as("g3"),
        count(lit(1)).as("n")).collect()(0)
      val n = row.getLong(4)
      // empty corpus: gradient sums are SQL nulls and there is nothing
      // to fit — the zero vector is the defined model (empty-input
      // contract; scoring then emits p = 0.5 for everything)
      if (n == 0L) return w
      w = Array.tabulate(4) { j =>
        // identical shape to the oracle's update:
        // w − 0.5·((g/1e9)/n), all left-associated divides
        w(j) - Lr * (row.getLong(j).toDouble / NanoScale / n.toDouble)
      }
      i += 1
    }
    w
  }

  /** Train and return the model card: one (term, value) row per weight
    * plus the training accuracy and document count, values
    * 6-decimal-floored like every other card. */
  def trainCard(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val feats = features(docs).persist()
    val w = train(feats, Iters)
    val pFinal = sig(zOf(w))
    feats.agg(
        (sum(when((pFinal >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("acc"),
        count(lit(1)).cast("double").as("n"))
      .select(explode(map(
        lit("acc"), col("acc"),
        lit("bias"), lit(w(0)),
        lit("n_docs"), col("n"),
        lit("w_alpha"), lit(w(3)),
        lit("w_stop"), lit(w(2)),
        lit("w_words"), lit(w(1)))).as(Seq("term", "value")))
      .select(col("term"), round6(col("value")).as("value"))
      .orderBy("term")
  }

  /** Score every document with a trained weight vector: map-only, one
    * row per doc with the rational-sigmoid probability. The 100 TB
    * shape of inference — no shuffle at all. */
  def score(docs: DataFrame, w: Array[Double]): DataFrame = {
    import graft.functions.Exact.round6
    require(w.length == 4, "weight vector is (bias, words, stop, alpha)")
    features(docs, withId = true)
      .select(col("doc_id"), round6(sig(zOf(w))).as("p_keep"))
  }

  /** Train on the corpus, then score it: the composed keep/drop gate.
    * Training happens at DataFrame-construction time (bounded driver
    * loop); the returned plan is the map-only scorer. */
  def trainAndScore(docs: DataFrame): DataFrame =
    score(docs, train(features(docs).persist(), Iters))

  /** ROC-AUC for the trained classifier — [[calibrationCard]] asks
    * "is the score a rate", this asks "does it RANK": the probability
    * a random kept doc outscores a random dropped one. Computed as
    * the Mann-Whitney rank statistic (the q_mwu machinery pointed at
    * the model), integer-exact through ties: with tied scores taking
    * AVERAGE ranks, `2·avgrank = 2·rank() + count−1` is an integer,
    * so `AUC = (Σ_pos 2·avgrank − n₁(n₁+1)) / (2·n₁·n₀)` is integer
    * sums + ONE closing division. The rank window orders by the
    * 6-decimal score — one global sort of doc grain (the same cost
    * class as q_sort; at 100 TB pre-aggregate to distinct scores
    * first, which the 10⁶-point score grid bounds). */
  def aucCard(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val feats = features(docs).persist()
    val w = train(feats, Iters)
    val scored = feats.select(col("y"), round6(sig(zOf(w))).as("p"))
    // distinct-score grain first (bounded by the 10⁶-point score
    // grid), then the audited bucket-monotone running sum — never a
    // doc-grain global window (the mannWhitneyU shape)
    val vc = scored.groupBy(col("p"))
      .agg(sum(col("y").cast("long")).as("cp"),
        sum(lit(1L) - col("y").cast("long")).as("cn"))
      .withColumn("cnt", col("cp") + col("cn"))
      .withColumn("__g", lit(1))
    val ranked = Cumulative.runningSum(vc, Seq("__g"), "p", "cnt", "cum")
      .withColumn("rank2", lit(2L) * col("cum") - col("cnt") + 1L)
    ranked.agg(
        sum(col("cp")).as("n_pos"),
        sum(col("cn")).as("n_neg"),
        sum(col("cp") * col("rank2")).as("s2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") < 1L || col("n_neg") < 1L, lit(null))
          .otherwise(round6(
            (col("s2") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
              / (lit(2.0) * col("n_pos") * col("n_neg")))).as("auc"))
  }

  /** Reliability (calibration) card for the trained classifier — a
    * score is only a useful GATE if 0.8 means "keeps 80%": per
    * predicted-probability decile, how many documents landed there,
    * the mean prediction vs the empirical keep rate, their gap, and
    * the per-bucket Brier score. A well-calibrated model hugs
    * mean_p ≈ emp_rate; a confident-but-wrong one shows at a glance.
    *
    * Integer-exact despite being probability arithmetic: p is already
    * the 6-decimal-floored rational sigmoid, so `q = p·10⁶` recovers
    * an exact integer per row, buckets are integer division
    * (`q div 10⁵`, capped at 9 so p = 1.0 joins the top decile), and
    * every aggregate is an integer sum — mean, rate, gap and Brier
    * are ONE closing division each. The Brier numerator `(q − y·10⁶)²`
    * is ≤ 10¹² per row, so the bigint sum is exact to ~9·10⁶ docs per
    * bucket; beyond that, pre-scale q to a 10³ grid (same card, 3
    * fewer exact decimals). One aggregate at bucket grain — the card
    * costs a feature scan, map-side combinable all the way. */
  def calibrationCard(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val feats = features(docs).persist()
    val w = train(feats, Iters)
    val scored = feats.select(col("y"), round6(sig(zOf(w))).as("p"))
    scored
      .select(col("y"), floor(col("p") * 1000000.0 + 0.5).cast("long").as("q"))
      .withColumn("bucket", least(expr("q div 100000"), lit(9L)))
      .withColumn("yq", (col("y") * 1000000.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("long")).as("n_pos"),
        sum(col("q")).as("sum_q"),
        sum((col("q") - col("yq")) * (col("q") - col("yq"))).as("sum_sq"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round6(col("sum_q").cast("double")
          / (col("n").cast("double") * 1000000.0)).as("mean_p"),
        round6(col("n_pos").cast("double") / col("n").cast("double")).as("emp_rate"),
        round6(abs(col("sum_q").cast("double") / (col("n").cast("double") * 1000000.0)
          - col("n_pos").cast("double") / col("n").cast("double"))).as("gap"),
        round6(col("sum_sq").cast("double")
          / (col("n").cast("double") * 1000000000000.0)).as("brier"))
      .orderBy(col("bucket"))
  }
}
