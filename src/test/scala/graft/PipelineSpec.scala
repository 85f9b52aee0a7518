package graft

import org.apache.spark.sql.functions._
import graft.operators._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different content about spark engines here")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 3)
    assert(out.exists(r => r.getAs[Long]("n_copies") == 2 && r.getAs[Long]("keep_id") == 1L))
  }

  test("ngramJaccard finds exact and near dups, skips unrelated") {
    val pairs = Dedup.ngramJaccard(docs, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLsh agrees with exact ngramJaccard on the test corpus") {
    val d = Tables.documents(spark, sfDir)
    val exact = Dedup.ngramJaccard(d, 3, 0.5).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(d, 3, 64, 16, 0.5).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash: identical docs have distance 0, unrelated docs differ") {
    val sig = Dedup.simhashSignatures(docs).as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("embeddingNearDup returns symmetric-free thresholded pairs") {
    val out = Dedup.embeddingNearDup(Tables.embeddings(spark, sfDir), 0.3).collect()
    assert(out.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(out.forall(r => r.getAs[Double]("cos") >= 0.3))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK: ranked, self excluded, k per query") {
    val out = Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), 3, 5).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(_.length == 5))
    assert(out.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.sliding(2).forall(p =>
        p(0).getAs[Double]("cos") >= p(1).getAs[Double]("cos")))
    }
  }

  test("lshAnn neighbors are a subset of scoring universe with correct ranks") {
    val out = Similarity.lshAnn(Tables.embeddings(spark, sfDir), 3, 5)
    assert(out.where($"rnk" > 5).count() == 0)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCounts: whitespace and bpe-ish counts") {
    val df = Seq((1L, "hello world 42 x!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df).head()
    assert(r.getAs[Int]("ws_tokens") == 4)
    // hello | world | 4 | 2 | x | !
    assert(r.getAs[Int]("bpe_tokens") == 6)
  }

  test("langId prefers the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat of the house and the dog", "en"),
      (2L, "el gato de la casa y los perros", "es")
    ).toDF("doc_id", "text", "lang")
    val m = TextAnalysis.langId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "en" && m(2L) == "es")
  }

  test("fingerprint is order-sensitive and content-stable") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("doc_id", "text")
    val m = TextAnalysis.fingerprint(df).as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("quality ratios bounded") {
    val out = TextAnalysis.quality(Tables.documents(spark, sfDir)).collect()
    assert(out.forall { r =>
      val q = r.getAs[Double]("quality_score")
      q >= 0.0 && q <= 1.0
    })
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("metaExtract exposes typed metadata from the binary column") {
    val out = Multimodal.metaExtract(Tables.documents(spark, sfDir)).collect()
    assert(out.forall(r => r.getAs[Int]("byte_len") > 0))
    assert(out.forall(r => r.getAs[String]("h").length == 32))
    assert(out.forall(r => r.getAs[Long]("width") < 640 && r.getAs[Long]("height") < 480))
  }
}
