package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sampling, Similarity, TextAnalysis}

/** Hand-computed fixtures for the round-7 operators. */
class Round7OpsSpec extends SparkSpec {

  test("vocabCard reports exact Zipf head/tail mass") {
    import spark.implicits._
    // tokens: a×4 b×2 c×1 d×1 → types 4, tokens 8, hapax 2, dis 1;
    // top-2 head = a+b = 6 → head_cov 0.75; ttr 0.5
    val docs = Seq((1L, "a a b c"), (2L, "a a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCard(docs, topK = 2).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getDouble(4), got.getDouble(5)) == ((4L, 8L, 2L, 1L, 0.5, 0.75)))
  }

  test("vocabCard head smaller than topK covers everything") {
    import spark.implicits._
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCard(docs, topK = 100).collect().head
    assert(got.getDouble(5) == 1.0 && got.getLong(2) == 2L)
  }

  test("mutualKnn keeps exactly the reciprocal pairs, canonically") {
    import spark.implicits._
    // 1's top list has 2 and 3; 2 lists 1; 3 lists 2 (NOT 1) →
    // mutual: only (1,2). Hub 2 appears in both lists but (2,3) is
    // one-directional.
    val topk = Seq(
      (1L, 2L, 0.9, 1), (1L, 3L, 0.8, 2),
      (2L, 1L, 0.9, 1), (2L, 4L, 0.1, 2),
      (3L, 2L, 0.7, 1), (4L, 3L, 0.2, 1))
      .toDF("query_id", "neighbor_id", "cos", "rnk")
    val got = Similarity.mutualKnn(topk)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.9)))
  }

  test("knnGraph edges are symmetric by construction and cos-exact") {
    // every emitted pair must satisfy the mutual property against the
    // brute-force listing it came from
    val emb = Tables.embeddings(spark, sfDir)
    val g = Similarity.knnGraph(emb, 3)
    val edges = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.forall { case (a, b) => a < b })
    // spot containment: mutual edges are a subset of the directed top-3
    val e = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val directed = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rnk") <= 3)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.forall { case (a, b) =>
      directed((a, b)) && directed((b, a)) })
  }

  test("vacuumDerived removes torn state, never committed state") {
    import spark.implicits._
    val root = tempDir("graft-spec-vac").toString
    val cat = new graft.sources.Catalog(spark, root)
    cat.refreshAggMv("good", Seq(("a", 1L)).toDF("k", "n"), Seq("k"))
    // multi-part layouts commit per part: their `_SUCCESS` markers sit
    // one level down (postings/, dl/; open/, closed_seg_b*/)
    cat.buildTextIndex("tidx", Seq((1L, "data join scan"), (2L, "join data"))
      .toDF("doc_id", "text"))
    cat.refreshScd2Mv("scd", Seq(("u1", 1L, "u", 10L), ("u1", 2L, "u", 20L))
      .toDF("k", "seq", "op", "v"), "k", "seq", "op", 0L)
    // plant a torn refresh (.tmp sibling) and an interrupted first
    // write (dir without _SUCCESS)
    val d = new java.io.File(cat.derivedDir)
    assert(new java.io.File(d, "good.tmp").mkdirs())
    val torn = new java.io.File(d, "torn")
    assert(torn.mkdirs())
    java.nio.file.Files.write(torn.toPath.resolve("part-0.parquet"), Array[Byte](1))
    assert(cat.vacuumDerived() == 2)
    // committed state intact and readable; second vacuum is a no-op
    assert(cat.mvState("good").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 1L)))
    assert(cat.loadTextIndex("tidx").dl.count() == 2)
    assert(cat.scd2MvHistory("scd", "seq", "op").count() == 2)
    assert(cat.vacuumDerived() == 0)
  }

  test("stream-maintained MV state is microbatch-boundary invariant") {
    // the algebraic-merge claim, pinned: replaying one file per trigger
    // (9 refreshes) must commit the identical state as the default
    // 4-files-per-trigger replay (3 refreshes)
    val fine = graft.streaming.EventStream
      .mvMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 1)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val coarse = graft.streaming.EventStream
      .mvMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 4)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(fine.toSeq == coarse.toSeq)
  }

  test("piiAudit counts shapes independently on the raw text") {
    import spark.implicits._
    val rows = Seq(
      ("a", "contact bob@x.com or bob@y.org now"),
      ("a", "server at 10.0.0.1 answered"),
      ("b", "call +1 (555) 123-4567"),
      ("b", "clean row")).toDF("slice", "txt")
    val got = TextAnalysis.piiAudit(rows, "slice", "txt")
      .orderBy("slice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // slice a: 2 rows, 1 with emails (2 hits), 1 with an IP
    // slice b: 2 rows, 1 with a phone, nothing else
    assert(got.toSeq == Seq(
      ("a", 2L, 1L, 2L, 1L, 1L, 0L, 0L),
      ("b", 2L, 0L, 0L, 0L, 0L, 1L, 1L)))
  }

  test("codeSignals routes symbol-dense text, not prose") {
    import spark.implicits._
    val docs = Seq(
      (1L, "int f() { return x; }"),
      (2L, "plain prose with no symbols at all here")).toDF("doc_id", "text")
    val got = TextAnalysis.codeSignals(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(3)))
    // doc 1: symbols {}();; = 6 of 21 chars -> flagged; doc 2: none
    assert(got(0)._3 == 1L && got(0)._2 > 0.2)
    assert(got(1) == ((2L, 0.0, 0L)))
  }

  test("snapshots are append-only versioned time travel, vacuum-safe") {
    import spark.implicits._
    val root = tempDir("graft-spec-snap").toString
    val cat = new graft.sources.Catalog(spark, root)
    assert(cat.snapshotVersions("corpus").isEmpty)
    assert(cat.snapshot("corpus", Seq((1L, "a")).toDF("id", "t")) == 1)
    assert(cat.snapshot("corpus", Seq((1L, "a"), (2L, "b")).toDF("id", "t")) == 2)
    assert(cat.snapshotVersions("corpus") == Seq(1, 2))
    assert(cat.readSnapshot("corpus", 1).count() == 1L)
    assert(cat.readSnapshot("corpus").count() == 2L) // latest
    // vacuum must not eat the committed snapshot family
    assert(cat.vacuumDerived() == 0)
    assert(cat.readSnapshot("corpus", 1).count() == 1L)
    intercept[IllegalArgumentException](cat.readSnapshot("corpus", 7))
  }

  test("kmvSetOps is exact below k and satisfies inclusion-exclusion") {
    import spark.implicits._
    // below k the sketches hold every distinct hash, so the card is
    // exact set algebra: |A|=10, |B|=10, |A∪B|=15, |A∩B|=5
    val a = (1L to 10L).toDF("ka")
    val b = (6L to 15L).toDF("kb")
    val got = graft.operators.Analytics.kmvSetOps(a, "ka", b, "kb").collect().head
    assert((got.getDouble(0), got.getDouble(1), got.getDouble(2),
      got.getDouble(3), got.getDouble(4), got.getDouble(5))
      == ((10.0, 10.0, 15.0, 5.0, 5.0, 5.0)))
  }

  test("runningMin is the exclusive strict-prefix min in value order") {
    import spark.implicits._
    val vc = Seq((1L, 10L), (2L, 7L), (3L, 9L), (4L, 7L), (5L, 3L))
      .toDF("v", "m").withColumn("g", lit(1))
    val got = graft.operators.Cumulative
      .runningMin(vc, Seq("g"), "v", "m", "prior", nBuckets = 2)
      .orderBy("v").collect()
      .map(r => (r.getLong(r.fieldIndex("v")),
        if (r.isNullAt(r.fieldIndex("prior"))) -1L else r.getLong(r.fieldIndex("prior"))))
    // priors: v=1 none(-1); v=2 min(10)=10; v=3 min(10,7)=7; v=4 7; v=5 7
    assert(got.toSeq == Seq((1L, -1L), (2L, 10L), (3L, 7L), (4L, 7L), (5L, 7L)))
  }

  test("skyline keeps the exact Pareto frontier, ties and duplicates included") {
    import spark.implicits._
    // points (price, size): frontier is (1,9), (3,4), (3,4) dup, (7,2);
    // (5,4) loses to (3,4); (3,6) loses to (3,4); (8,2) loses to (7,2)
    val pts = Seq(
      (10L, 1L, 9L), (20L, 3L, 4L), (21L, 3L, 4L), (22L, 3L, 6L),
      (30L, 5L, 4L), (40L, 7L, 2L), (41L, 8L, 2L))
      .toDF("id", "x", "y")
    val got = graft.operators.Analytics.skyline(pts, "x", "y", Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(10L, 20L, 21L, 40L))
  }

  test("interleave materializes the exact RNG-free mixture schedule") {
    import spark.implicits._
    val a = (1L to 6L).toDF("doc_id").withColumn("text", lit("x"))
    val b = (101L to 103L).toDF("doc_id").withColumn("text", lit("x"))
    val got = graft.operators.Sampling.interleave(a, b, 2, 1)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val slotsA = got.filter(_._1 == "a").map(_._2).sorted
    val slotsB = got.filter(_._1 == "b").map(_._2).sorted
    // period 3: a gets {0,1, 3,4, 6,7}; b gets {2, 5, 8} — disjoint,
    // pattern AAB repeating, everyone placed exactly once
    assert(slotsA.toSeq == Seq(0L, 1L, 3L, 4L, 6L, 7L))
    assert(slotsB.toSeq == Seq(2L, 5L, 8L))
    assert(slotsA.toSet.intersect(slotsB.toSet).isEmpty)
    // within-side consumption follows the deterministic shuffle order
    val orderA = graft.operators.Sampling.shuffleOrder(a)
      .orderBy("pos").select("doc_id").as[Long].collect()
    val aIds = graft.operators.Sampling.interleave(a, b, 2, 1)
      .where($"side" === "a").orderBy("slot").select("doc_id").as[Long].collect()
    assert(aIds.toSeq == orderA.toSeq)
  }

  test("applyCdc applies latest-wins upserts and deletes, base untouched otherwise") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a1", 1L, "u"), (1L, "a2", 2L, "u"),      // double update: seq 2 wins
      (2L, "dead", 1L, "d"),                         // delete
      (2L, "alive", 0L, "u"),                        // older than the delete: loses
      (4L, "new", 1L, "u"))                          // pure insert
      .toDF("k", "v", "seq", "op")
    val got = graft.sources.Catalog.applyCdc(base, changes, "k", "seq", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a2"), (3L, "c"), (4L, "new")))
  }

  test("gapCard reports the exact inter-arrival census with a discrete p95") {
    import spark.implicits._
    // one type, arrivals at 0, 10, 30, 100 s → gaps 10, 20, 70 s
    val ev = Seq((1L, 0L), (2L, 10L), (3L, 30L), (4L, 100L))
      .toDF("event_id", "sec")
      .select(col("event_id"), lit("t").as("event_type"),
        org.apache.spark.sql.functions.timestamp_micros(col("sec") * 1000000L).as("ts"))
    val got = graft.operators.Events.gapCard(ev, slaUs = 15000000L).collect().head
    assert(got.getLong(got.fieldIndex("n_gaps")) == 3L)
    assert(got.getLong(got.fieldIndex("max_gap_us")) == 70000000L)
    assert(got.getDouble(got.fieldIndex("mean_gap_us")) == 100000000.0 / 3)
    // p95 of {10,20,70}s discrete = 70 s (an actual gap, not interpolated)
    assert(got.getLong(got.fieldIndex("p95_gap_us")) == 70000000L)
    assert(got.getLong(got.fieldIndex("n_sla_breaches")) == 2L)
  }

  test("curriculumCard phases partition the corpus with monotone quality") {
    val docs = Tables.documents(spark, sfDir)
    val card = Sampling.curriculumCard(docs)
      .orderBy("phase").collect()
    assert(card.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    // phases partition: doc counts sum to the corpus
    assert(card.map(_.getLong(1)).sum == docs.count())
    // mean quality is strictly ordered across phases (quartile cutoffs)
    val means = card.map(_.getDouble(3))
    assert(means.zip(means.tail).forall { case (a, b) => a < b },
      s"phase means not increasing: ${means.toSeq}")
  }
}
