package graft

import graft.operators.{CorpusPipeline, Dedup, Sampling, TextAnalysis}

class StagedPipelineSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col
  import graft.operators.CorpusPipeline

  test("staged pipeline matches in-session prepare and resumes from completed stages") {
    val docs = Tables.documents(spark, sfDir)
    val bench = Some(docs.where(col("doc_id") < 20))
    val input = docs.where(col("doc_id") >= 20)
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    val cfg = CorpusPipeline.Config(minQuality = 0.2)

    // every output column must match, not only the split assignment
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text", $"quality_score", $"pred_lang", $"split")
        .as[(Long, String, Double, String, String)].collect().toSet
    val staged = rows(CorpusPipeline.prepareStaged(spark, input, dir, bench, cfg))
    val res = CorpusPipeline.prepare(input, bench, cfg)
    val inMem = try rows(res.corpus) finally res.release()
    assert(staged == inMem)

    // resume: completed stage outputs are read back, not rewritten —
    // their files' mtimes must survive a re-run untouched
    val uniqFile = new java.io.File(s"$dir/unique").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val mtime = uniqFile.lastModified()
    val again = rows(CorpusPipeline.prepareStaged(spark, input, dir, bench, cfg))
    assert(again == inMem)
    assert(uniqFile.lastModified() == mtime, "completed stage was recomputed on resume")
  }
}

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
    val cfg = CorpusPipeline.Config(minQuality = 0.2)
    val res = CorpusPipeline.prepare(corpus, Some(bench), cfg)
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
    // no near-dup pairs at the configured threshold survive
    assert(Dedup.minhashLsh(out, cfg.shingleN, cfg.numHashes, cfg.bands,
      cfg.jaccard).count() == 0)
    // nothing contaminated survives
    assert(Dedup.contamination(out, bench, cfg.shingleN,
      cfg.minSharedShingles).count() == 0)
    out.unpersist()
    res.release()
  }
}
