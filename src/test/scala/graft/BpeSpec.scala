package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Distributed BPE tokenizer fitting: greedy merge order on the
  * classic corpus, greedy-leftmost fold semantics, vocab mass
  * conservation. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich et al. worked example: low×5, lower×2, newest×6, widest×3
  private def classicDocs = Seq(
    (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    .toDF("doc_id", "text")

  test("learns the classic merge sequence with deterministic tie-breaks") {
    val ms = Bpe.merges(classicDocs, nMerges = 4)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect()
    // (e,s) and (s,t) both count 9 -> lexicographic tie-break picks (e,s);
    // after merging, (es,t) counts 9 and wins round 2; then (l,o) 7, (lo,w) 7
    assert(ms.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L), (4, "lo", "w", 7L)))
  }

  test("eow variant learns the paper's end-of-word merge sequence") {
    // Sennrich's formulation: </w> appended as its own symbol. First
    // five merges on the worked example are the paper's: (e,s) 9,
    // (es,t) 9, (est,</w>) 9, (l,o) 7, (lo,w) 7. Round 6 is a 6-count
    // three-way tie — (e,w), (n,e), (w,est</w>) — where the paper's
    // python-dict max is insertion-order dependent; our total order
    // (count desc, then (a,b)) picks (e,w) deterministically.
    val ms = Bpe.merges(classicDocs, nMerges = 6, eow = true)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect()
    assert(ms.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L)))
    // word-final vs word-internal subwords are now distinct symbols
    val v = Bpe.vocab(classicDocs, nMerges = 6, eow = true)
      .as[(String, Long)].collect().toMap
    assert(v.contains("est</w>") && !v.contains("est"))
    // low×5 still ends in the separate </w> symbol until (low,</w>) merges
    assert(v("</w>") == 7L) // low×5 + lower×2 (newest/widest folded into est</w>)
  }

  test("eow encode appends the marker and round-trips training's segmentation") {
    val ms = Bpe.merges(classicDocs, nMerges = 6, eow = true)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().map(m => (m._2, m._3)).toSeq
    val enc = Bpe.encode(classicDocs, ms, eow = true)
      .where($"word" === "newest").select($"seg").as[Seq[String]].head()
    // [n,e,w,e,s,t,</w>] -> (e,s),(es,t),(est,</w>) -> [n,e,w,est</w>]
    // -> (e,w) -> [n,ew,est</w>]
    assert(enc == Seq("n", "ew", "est</w>"))
  }

  test("merge fold is greedy-leftmost: aaa under (a,a) becomes [aa, a]") {
    // corpus where (a,a) must be the first merge
    val docs = Seq((1L, "aaa aaa aa")).toDF("doc_id", "text")
    val v = Bpe.vocab(docs, nMerges = 1).as[(String, Long)].collect().toMap
    // aaa -> [aa, a] (×2), aa -> [aa] (×1): aa appears 3×, a 2×
    assert(v == Map("aa" -> 3L, "a" -> 2L))
  }

  test("vocab conserves subword mass and shrinks monotonically in rounds") {
    val docs = Tables.documents(spark, sfDir)
    val chars0 = Bpe.vocab(docs, nMerges = 0)
      .agg(sum($"n")).as[Long].head()
    val after = Bpe.vocab(docs, nMerges = 4)
    val (types, mass) = (after.count(),
      after.agg(sum($"n" * length($"tok"))).as[Long].head())
    // total character mass is invariant under merging
    assert(mass == chars0, s"char mass must be conserved: $mass != $chars0")
    // each merge adds at most one new type; token count strictly drops
    val n4 = after.agg(sum($"n")).as[Long].head()
    assert(n4 < chars0, "merging must reduce the token count")
    assert(types > 0)
  }

  test("encode with learned merges reproduces training's final segmentation") {
    val docs = Tables.documents(spark, sfDir)
    // ONE training run supplies both the merge list and the final
    // segmentation (Bpe.vocab re-trains internally — this test
    // measured 196 s with two trains and two encode executions; the
    // property checked is unchanged: vocab IS the seg aggregation)
    val (seg, ms) = Bpe.train(docs, nMerges = 6)
    val learned = ms.sortBy(_._1).map(m => (m._2, m._3))
    val fromTrain = seg.select($"cnt", explode($"seg").as("tok"))
      .groupBy($"tok").agg(sum($"cnt").as("n"))
      .as[(String, Long)].collect().toMap
    // encoding the training corpus with its own merges = the final
    // training segmentation: identical subword totals per subword —
    // the encode frame is pinned so both assertions execute it once
    val enc = Bpe.encode(docs, learned).persist()
    try {
      val fromEncode = enc
        .select(explode($"seg").as("tok")).groupBy("tok").count()
        .as[(String, Long)].collect().toMap
      assert(fromEncode == fromTrain)
      // and n_subwords is the packing-ready token count
      assert(enc.where(size($"seg") =!= $"n_subwords").count() == 0)
    } finally enc.unpersist(): Unit
  }

  test("encode is map-only and runs unchanged on a stream") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val learned = Bpe.merges(docs, nMerges = 4)
      .orderBy("merge_rank").select("tok_a", "tok_b")
      .as[(String, String)].collect().toSeq
    // map-only: no exchange in the batch plan
    val plan = Bpe.encode(docs, learned).opPlanString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")
    // and the same call tokenizes a stream (append mode, no state)
    val dir = tempDir("graft-bpe-stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Bpe.encode(stream, learned)
      .groupBy($"doc_id").agg(sum($"n_subwords").as("toks"))
      .writeStream.format("memory").queryName("bpe_enc").outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bpe_enc")
    val batch = Bpe.encode(docs, learned)
      .groupBy($"doc_id").agg(sum($"n_subwords").as("toks"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("early-stop: a fully merged vocabulary stops instead of failing") {
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    // one possible merge (a,b); asking for 5 stops after 1
    val ms = Bpe.merges(docs, nMerges = 5).collect()
    assert(ms.length == 1)
  }
}
