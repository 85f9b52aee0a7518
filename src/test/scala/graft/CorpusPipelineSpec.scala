package graft

import graft.operators.{CorpusPipeline, Dedup, Sampling, TextAnalysis}

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("signals matches the standalone quality and langId operators") {
    val docs = Tables.documents(spark, sfDir)
    val sig = CorpusPipeline.signals(docs)
      .select($"doc_id", $"quality_score", $"pred_lang")
      .as[(Long, Double, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val q = TextAnalysis.quality(docs)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val l = TextAnalysis.langId(docs)
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    docs.select($"doc_id").as[Long].collect().foreach { id =>
      // quality() rounds through round6; the fused pass keeps raw doubles
      assert(math.abs(sig(id)._1 - q(id)) < 1e-6, s"doc $id quality")
      assert(sig(id)._2 == l(id), s"doc $id lang")
    }
  }

  test("prepare runs the full ladder and the result is clean") {
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.where($"doc_id" < 20)
    val corpus = docs.where($"doc_id" >= 20)
    val res = CorpusPipeline.prepare(corpus, Some(bench), minQuality = 0.2)
    val out = res.corpus
    out.cache()

    // stage counts exist and never grow
    val counts = res.stages.map { case (stage, df) => stage -> df.count() }
    assert(counts.map(_._1) == Seq("input", "quality_lang",
      "exact_dedup", "near_dedup", "decontaminated"))
    assert(counts.map(_._2).sliding(2).forall(p => p(1) <= p(0)))
    assert(out.count() > 0 && out.count() == counts.last._2)

    // quality floor respected; split column total and rough proportions
    assert(out.where($"quality_score" < 0.2).count() == 0)
    val splits = out.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(splits.keySet.subsetOf(Set("train", "val", "test")))
    assert(splits.getOrElse("train", 0L) > splits.getOrElse("val", 0L))

    // no exact duplicates survive
    assert(Dedup.exact(out).where($"n_copies" > 1).count() == 0)
    // no near-dup pairs at the pipeline's (the defaults') threshold survive
    assert(Dedup.minhashLsh(out).count() == 0)
    // nothing contaminated survives
    assert(Dedup.contamination(out, bench).count() == 0)
    out.unpersist()
    res.release()
  }
}
