package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Catalog

/** Phrase-scored BM25: adjacency, not co-occurrence — the planted
  * fixture separates "new york" from "york ... new" — and the indexed
  * form equals the scan. */
class PhraseBm25Spec extends SparkSpec {
  import spark.implicits._

  test("adjacent phrase matches; scattered co-occurrence does not") {
    val docs = Seq(
      (1L, "visited new york last fall"),      // adjacent → match
      (2L, "york was new to me entirely"),     // scattered → no match
      (3L, "new york new york twice over"),    // two starts → tf = 2
      (4L, "completely unrelated text here"),
      (5L, "york new reversed order stays out") // reversed → no match
    ).toDF("doc_id", "text")
    val res = graft.operators.TextAnalysis
      .bm25Phrase(docs, Seq("new", "york"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(res == Set(1L, 3L))
  }

  test("repeated-start tf counts every phrase start") {
    val docs = Seq(
      (1L, "a b a b a b"), // "a b" starts at 0, 2, 4 → tf 3
      (2L, "a a b b a")    // starts at 1 only → tf 1
    ).toDF("doc_id", "text")
    val scores = graft.operators.TextAnalysis
      .bm25Phrase(docs, Seq("a", "b"), k = 10).collect()
    // both match; doc 1's higher tf must outscore doc 2 (same dl? no —
    // dl differs; just assert both present and doc1 first)
    assert(scores.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(scores.head.getLong(0) == 1L)
  }

  test("three-term phrases require full adjacency") {
    val docs = Seq(
      (1L, "big data join scan pipeline"),
      (2L, "data quick join fast scan")
    ).toDF("doc_id", "text")
    val res = graft.operators.TextAnalysis
      .bm25Phrase(docs, Seq("data", "join", "scan"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(res == Set(1L))
  }

  test("indexed phrase search equals the direct scan on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-phrase").toString))
    cat.buildTextIndex("pt", docs, positional = true)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(graft.operators.TextAnalysis.bm25PhraseIndexed(
        cat.loadTextIndex("pt"), Seq("data", "join"))) ==
      hits(graft.operators.TextAnalysis.bm25Phrase(docs, Seq("data", "join"))))
    // a non-positional index refuses the phrase read loudly
    cat.buildTextIndex("pt_plain", docs)
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.bm25PhraseIndexed(
        cat.loadTextIndex("pt_plain"), Seq("data", "join"))
    }
  }
}

/** Auto-maintain inside the streaming drive: segment count stays
  * bounded THROUGHOUT the replay, results unchanged, exactly-once
  * markers surviving the folds. */
class AutoMaintainSpec extends SparkSpec {
  import spark.implicits._

  test("live index replay keeps committed segments <= threshold throughout") {
    import graft.sources.Catalog
    import graft.streaming.Replay
    val threshold = 3
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-automnt").toString))
    val docs = Tables.documents(spark, sfDir)
    cat.dropDerived("am")
    cat.buildTextIndex("am", docs.limit(0))
    var maxSeen = 0
    var lastId = -1L
    // every commit deletes the segments its manifest no longer lists
    def committedSegs(): Int = {
      val root = new java.io.File(s"${cat.derivedDir}/am")
      root.listFiles().count(f => f.isDirectory &&
        f.getName.startsWith("postings_seg_b"))
    }
    Replay.runForeachBatch(spark, Replay.docSource(spark, sfDir), maxFilesPerTrigger = 1) {
      (batch, id) =>
        cat.upsertTextIndex("am", batch, id)
        cat.maintainOne("am", threshold): Unit
        maxSeen = math.max(maxSeen, committedSegs())
        lastId = id
    }
    assert(maxSeen <= threshold, s"segments peaked at $maxSeen > $threshold")
    assert(committedSegs() <= threshold)
    // the served search equals the direct corpus scan after the folds
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(graft.operators.TextAnalysis.bm25Indexed(
        cat.loadTextIndex("am"), Seq("data", "join", "scan"))) ==
      hits(graft.operators.TextAnalysis.bm25(docs, Seq("data", "join", "scan"))))
    // exactly-once survives the folds: a replay of the highest applied
    // batch id, or of the first, is still a no-op (the mark rode every
    // compaction)
    val before = hits(graft.operators.TextAnalysis.bm25Indexed(
      cat.loadTextIndex("am"), Seq("data", "join", "scan")))
    assert(lastId > 0L)
    Seq(lastId, 0L).foreach(b => cat.upsertTextIndex("am", docs.limit(5), b))
    assert(hits(graft.operators.TextAnalysis.bm25Indexed(
        cat.loadTextIndex("am"), Seq("data", "join", "scan"))) == before)
  }
}

/** The decile-shift drift card: split-invariant (lossless sketch fold)
  * and exact on a planted shift. */
class DecileShiftSpec extends SparkSpec {
  import spark.implicits._

  test("card off incrementally folded state equals the one-shot sketch") {
    import graft.operators.TextAnalysis
    import graft.sources.Catalog
    val ev = Tables.events(spark, sfDir).select(
      org.apache.spark.sql.functions.pmod(col("user_id"),
        org.apache.spark.sql.functions.lit(2L)).as("cohort"),
      TextAnalysis.portableHash60(col("event_id")).as("h"),
      col("value").as("val"), col("event_id"))
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-dshift").toString))
    (0 until 3).foreach { b =>
      cat.refreshQsketchMv("inc", ev.where(pmod(col("event_id"), lit(3)) === b),
        Seq("cohort"), "h", "val", 256)
    }
    cat.refreshQsketchMv("one", ev, Seq("cohort"), "h", "val", 256)
    def card(name: String) = TextAnalysis
      .decileShiftCard(cat.mvState(name), "cohort")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(card("inc") == card("one"))
  }

  test("a planted location shift is detected; identical cohorts read ~0") {
    import graft.operators.TextAnalysis
    val same = (1 to 400).flatMap(i =>
      Seq((0L, i.toLong, i.toDouble % 97), (1L, i.toLong + 1000L, i.toDouble % 97)))
      .toDF("cohort", "h", "val")
    val sameKs = TextAnalysis.decileShiftCard(same, "cohort")
      .select("ks").distinct().as[Double].head()
    assert(sameKs < 0.01, s"identical cohorts ks=$sameKs")
    val shifted = (1 to 400).flatMap(i =>
      Seq((0L, i.toLong, (i % 100).toDouble),
        (1L, i.toLong + 1000L, (i % 100).toDouble + 50.0)))
      .toDF("cohort", "h", "val")
    val ks = TextAnalysis.decileShiftCard(shifted, "cohort")
      .select("ks").distinct().as[Double].head()
    assert(ks > 0.4, s"planted +50 shift ks=$ks")
  }
}
