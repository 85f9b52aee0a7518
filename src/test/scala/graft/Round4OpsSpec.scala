package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Specs for the round-4 surface beyond the codec suite: DSIR-shaped
  * importance weighting. */
class ImportanceWeightsSpec extends SparkSpec {
  import spark.implicits._

  test("importanceWeights matches the hand-computed smoothed ratios exactly") {
    // doc 1 (target) and doc 2 (not) share one bigram bucket; doc 3 is alone.
    // bucket A: n_raw=2, n_target=1 → (2·10⁶) div 3 = 666666
    // bucket B: n_raw=1, n_target=0 → (1·10⁶) div 2 = 500000
    val docs = Seq(
      (1L, "alpha beta", "en"), (2L, "alpha beta", "de"), (3L, "gamma delta", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.importanceWeights(docs, $"lang" === "en").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Double]("imp_score"))).toMap
    assert(out(1L) == ((1L, 0.666666)))
    assert(out(2L) == ((1L, 0.666666)))
    assert(out(3L) == ((1L, 0.5)))
  }

  test("target-slice documents outscore the rest on corpus data") {
    val docs = Tables.documents(spark, sfDir)
    val scored = TextAnalysis.importanceWeights(docs, col("lang") === "en")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val Array(enAvg, restAvg) = scored
      .groupBy(($"lang" === "en").as("t")).agg(avg($"imp_score").as("s"))
      .orderBy($"t".desc).select($"s").as[Double].collect()
    assert(enAvg > restAvg,
      s"English target docs must outscore the rest: $enAvg <= $restAvg")
    // every doc with >= 2 tokens is scored
    assert(scored.count() == docs.where(size(TextAnalysis.tokens($"text")) >= 2).count())
  }

  test("importanceSelect keeps exactly the above-corpus-mean documents") {
    val docs = Tables.documents(spark, sfDir)
    val scored = TextAnalysis.importanceWeights(docs, col("lang") === "en")
    val selected = TextAnalysis.importanceSelect(docs, col("lang") === "en")
      .select($"doc_id").as[Long].collect().toSet
    // recompute the exact criterion from the raw longs the score rounds
    val rows = scored.select($"doc_id", $"n_feats", $"imp_score").collect()
    assert(selected.nonEmpty && selected.size < rows.length)
    // selection is strictly score-monotone: every selected doc outscores
    // every non-selected doc up to the rounding granularity of imp_score
    val selScores = rows.filter(r => selected(r.getLong(0))).map(_.getDouble(2))
    val outScores = rows.filter(r => !selected(r.getLong(0))).map(_.getDouble(2))
    assert(selScores.min >= outScores.max - 1e-6,
      s"selection must be a score threshold: min-in=${selScores.min} max-out=${outScores.max}")
  }

  test("the ratio table never exceeds nBuckets rows and the plan broadcasts it") {
    val docs = Tables.documents(spark, sfDir)
    val plan = TextAnalysis.importanceWeights(docs, col("lang") === "en", nBuckets = 64)
      .opPlanString
    assert(plan.contains("BroadcastHashJoin"), s"ratio join must broadcast:\n$plan")
  }
}
