package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Catalog

/** The durable inverted text index: indexed search equals the direct
  * scan, upserted equals monolithic (stats fold losslessly), the
  * segment conventions (retry no-op, torn segment invisible,
  * compaction) hold exactly as in the ANN family. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val query = Seq("data", "join", "scan")

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-tidx").toString))

  private def hits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("indexed search equals the direct scan exactly") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    cat.buildTextIndex("ti", docs)
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) ==
      hits(TextAnalysis.bm25(docs, query)))
  }

  test("a failed rebuild with the other grain leaves upserts on the live grain") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    cat.buildTextIndex("tg", docs.where(col("doc_id") % 3 =!= 0), positional = true)
    // a non-positional rebuild whose docs throw while the postings write
    val poisoned = docs.withColumn("text",
      expr("CASE WHEN doc_id >= 0 THEN raise_error('poisoned doc') ELSE text END"))
    intercept[Exception](cat.buildTextIndex("tg", poisoned))
    cat.upsertTextIndex("tg", docs.where(col("doc_id") % 3 === 0), 1L)
    // the upserted segment carries positions: phrase search over the
    // whole index equals the direct scan
    val idx = cat.loadTextIndex("tg")
    assert(idx.postings.columns.contains("positions"))
    assert(idx.postings.where(col("positions").isNull).isEmpty)
    assert(TextAnalysis.bm25PhraseIndexed(idx, Seq("data", "join"), 5).collect().toSeq ==
      TextAnalysis.bm25Phrase(docs, Seq("data", "join"), 5).collect().toSeq)
  }

  test("upserted index equals the monolithic rebuild (stats fold losslessly)") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    cat.buildTextIndex("ti", docs.where(col("doc_id") % 3 =!= 0))
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 1L)
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) ==
      hits(TextAnalysis.bm25(docs, query)))
    // folded stats equal the whole-corpus aggregates
    val st = cat.loadTextIndex("ti").stats.collect().head
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))))
    assert(st.getLong(0) == docs.count() && st.getLong(1) == toks.count())
  }

  test("a large upsert batch takes the single-tokenize route and equals the rebuild") {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val cat = freshCat()
    cat.buildTextIndex("tibig", docs)
    // force the > 64 MB size route: few documents, one huge
    // single-token INCOMPRESSIBLE text each, round-tripped through
    // parquet so the routing sees FILE-SOURCE stats (a LocalRelation's
    // stats are schema-estimated and ignore string content — the
    // file-source path is also the real microbatch deployment shape);
    // token count stays tiny, so only the route changes, not the load
    val rnd = new scala.util.Random(7)
    val pad = rnd.alphanumeric.take(1 << 20).mkString
    val bigDir = tempDir("tidx-big").toString
    (0 until 80).map(i =>
      (100000L + i, if (i < 3) s"data join scan doc$i" else s"$pad$i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(bigDir)
    val bigDocs = spark.read.parquet(bigDir)
    assert(bigDocs.queryExecution.optimizedPlan.stats.sizeInBytes > (64L << 20),
      "fixture must exceed the size-routing threshold")
    cat.upsertTextIndex("tibig", bigDocs, 1L)
    val mono = freshCat()
    mono.buildTextIndex("timono", docs.unionByName(bigDocs))
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("tibig"), query)) ==
      hits(TextAnalysis.bm25Indexed(mono.loadTextIndex("timono"), query)))
    // folded stats equal the monolithic build's
    assert(cat.loadTextIndex("tibig").stats.collect().head ==
      mono.loadTextIndex("timono").stats.collect().head)
  }

  test("retry of a committed batch id is a no-op; torn segment never serves") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    cat.buildTextIndex("ti", docs.where(col("doc_id") % 3 =!= 0))
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 1L)
    val before = hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query))
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 1L) // retry
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
    // torn: segments a crashed upsert left behind, which no manifest
    // lists, are invisible
    val root = new java.io.File(s"${cat.derivedDir}/ti")
    Seq("postings_seg_b2", "dl_seg_b2").foreach { d =>
      val torn = new java.io.File(root, d)
      assert(torn.mkdirs())
      java.nio.file.Files.writeString(torn.toPath.resolve("part-junk.parquet"), "junk")
    }
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
  }

  test("compaction folds segments, keeps results, survives a retried batch") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    cat.buildTextIndex("ti", docs.where(col("doc_id") % 3 === 1))
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 2), 1L)
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 2L)
    val before = hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query))
    cat.compactTextIndex("ti")
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
    // the batch-id mark survives the fold: a replay of either folded
    // batch must no-op, not double-count df/dl
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 2L)
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 2), 1L)
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
    // idempotent re-compaction
    cat.compactTextIndex("ti")
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
  }

  test("streamed index maintenance equals the direct scan at any batching") {
    val direct = hits(TextAnalysis.bm25(Tables.documents(spark, sfDir), query))
    val one = hits(graft.streaming.DocStream
      .textIndexMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 1))
    val six = hits(graft.streaming.DocStream
      .textIndexMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 6))
    assert(one == direct, s"stream(1) $one vs direct $direct")
    assert(six == direct, s"stream(6) $six vs direct $direct")
  }

  test("maintain compacts only artifacts at or past the segment threshold") {
    val docs = Tables.documents(spark, sfDir)
    val cat = freshCat()
    // text index with 3 committed segments; SCD2 with 1 — threshold 3
    // folds the first and leaves the second's layout untouched
    cat.buildTextIndex("ti", docs.where(col("doc_id") % 4 === 0))
    (1 to 3).foreach(i =>
      cat.upsertTextIndex("ti", docs.where(col("doc_id") % 4 === i), i.toLong))
    import spark.implicits._
    cat.refreshScd2Mv("h", Seq((1L, 10L, "u", "a"), (1L, 20L, "u", "b"))
      .toDF("k", "seq", "op", "v"), "k", "seq", "op", 0L)
    val before = hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query))
    assert(cat.maintain(threshold = 3) == Seq("ti"))
    assert(hits(TextAnalysis.bm25Indexed(cat.loadTextIndex("ti"), query)) == before)
    def segs(name: String, p: String) =
      new java.io.File(s"${cat.derivedDir}/$name").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith(p))
    assert(segs("ti", "postings_seg_b") == 0) // folded and deleted
    assert(segs("h", "closed_seg_b") == 1)    // untouched
    assert(cat.maintain(threshold = 3).isEmpty) // idempotent at rest
  }

  test("missing index is refused with a clear message") {
    val cat = freshCat()
    val e = intercept[IllegalArgumentException] { cat.loadTextIndex("nope") }
    assert(e.getMessage.contains("no committed text index"))
    val e2 = intercept[IllegalArgumentException] {
      cat.upsertTextIndex("nope", Tables.documents(spark, sfDir), 1L)
    }
    assert(e2.getMessage.contains("no committed text index"))
  }

  test("query-term read prunes the postings scan (pushed filter on term)") {
    val cat = freshCat()
    cat.buildTextIndex("ti", Tables.documents(spark, sfDir))
    val plan = cat.loadTextIndex("ti").postings
      .where(col("term").isin(query: _*)).opPlanString
    assert(plan.contains("PushedFilters: [In(term"), plan)
  }
}
