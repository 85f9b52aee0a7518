package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Events, Similarity}

/** Hand-computed fixtures for the round-7 second-wave operators. */
class Round7bOpsSpec extends SparkSpec {

  test("abcClassification splits at the value grain, ties share a class") {
    import spark.implicits._
    // revenues (cents): 8000, 1500, 400, 100 → T=10000. Top-down
    // cumulative: 8000 (=80% → A), 9500 (=95% → B), 9900 → C, 10000 → C
    val li = Seq(
      (1L, 80.00, 0.0), (2L, 15.00, 0.0), (3L, 4.00, 0.0), (4L, 1.00, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val got = Analytics.abcClassification(li)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("A", 1L, 80.0), ("B", 1L, 15.0), ("C", 2L, 5.0)))
  }

  test("abcClassification: tied parts straddling a boundary stay together") {
    import spark.implicits._
    // two parts at 45.00 each (T=100): top-down through their shared
    // value block is 90 > 80 → both B, never split A/B by a tiebreak
    val li = Seq(
      (1L, 45.00, 0.0), (2L, 45.00, 0.0), (3L, 10.00, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val got = Analytics.abcClassification(li)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("B", 2L), ("C", 1L)))
  }

  test("benfordCard counts first digits of exact cents") {
    import spark.implicits._
    val o = Seq(1.23, 9.99, 0.05, 12.00).toDF("o_totalprice")
    val got = Analytics.benfordCard(o)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, 2L, 0.5), (5, 1L, 0.25), (9, 1L, 0.25)))
  }

  test("lorenzDeciles: 10 distinct spenders, one per decile, exact shares") {
    import spark.implicits._
    // customers spend 1..10 dollars; decile d holds rank d with share
    // d/55 (rounded to 1e-6)
    val o = (1 to 10).map(i => (i.toLong, i.toDouble))
      .toDF("o_custkey", "o_totalprice")
    val got = Analytics.lorenzDeciles(o)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq == (1 to 10).map(d => (d, 1L)))
    assert(got(9) == ((10, 1L, 10.0, math.floor(10.0 / 55 * 1e6 + 0.5) / 1e6)))
    assert(got(0)._3 == 1.0)
  }

  test("lorenzDeciles: a tie block straddling boundaries splits by rank count") {
    import spark.implicits._
    // 5 equal spenders: rank ranges put one member in each even decile
    // (floor(d·5/10) advances on even d); odd deciles are empty
    val o = (1 to 5).map(i => (i.toLong, 2.00)).toDF("o_custkey", "o_totalprice")
    val got = Analytics.lorenzDeciles(o)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((2, 1L), (4, 1L), (6, 1L), (8, 1L), (10, 1L)))
  }

  test("rfmSegments: discrete medians, capital letter is the good half") {
    import spark.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    // c1: orders day0+day10 (recency 0, freq 2, monetary 3000c)
    // c2: one order day0 (recency 10, freq 1, monetary 500c)
    // medians (percentile_disc .5 of two values = the lower): rc=0,
    // fc=1, mc=500 → c1 'RFM', c2 'rFM'
    val o = Seq((1L, ts(0), 10.00), (1L, ts(10), 20.00), (2L, ts(0), 5.00))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = Analytics.rfmSegments(o)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("RFM", 1L, 30.0), ("rFM", 1L, 5.0)))
  }

  test("cusumChangePoint finds the level shift, exactly") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // values 0,0,0,10,10,10 → CUSUM_k = 6·P_k − k·S peaks (|−9e7|) at
    // the 3rd point: the boundary BEFORE the shift
    val e = (1 to 6).map(i => ("a", ts(i), if (i <= 3) 0.0 else 10.0))
      .toDF("event_type", "ts", "value")
    val got = Events.cusumChangePoint(e).collect().head
    assert(got.getString(0) == "a")
    assert(got.getLong(1) == java.sql.Timestamp.valueOf("2024-01-01 00:00:03").getTime * 1000L)
    assert(got.getDouble(2) == 9e7)
    assert(got.getLong(3) == 6L)
  }

  test("cusumChangePoint ties resolve to the earliest timestamp") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // two points 0,10: |CUSUM| = 1e7 at BOTH k=1 and... k=2 gives 0 —
    // single max at k=1; symmetric series 0,10,10,0 puts the max at
    // k=1 AND k=3 (|−2e7| each... recompute: n=4 S=2e7; P=[0,1e7,2e7,2e7];
    // C=4P−k·2e7=[−2e7,−2e7? 4e7−4e7=0? — use the simple pair and a
    // genuinely tied W shape: 10,0,0,10 → P=[1e7,1e7,1e7,2e7],
    // C=[4e7−2e7,4e7−4e7,4e7−6e7,8e7−8e7]=[2e7,0,−2e7,0] → tie 2e7 at
    // k=1 and k=3 → earliest wins
    val e = Seq(("a", ts(1), 10.0), ("a", ts(2), 0.0), ("a", ts(3), 0.0),
      ("a", ts(4), 10.0)).toDF("event_type", "ts", "value")
    val got = Events.cusumChangePoint(e).collect().head
    assert(got.getLong(1) == java.sql.Timestamp.valueOf("2024-01-01 00:00:01").getTime * 1000L)
    assert(got.getDouble(2) == 2e7)
  }

  test("runningSums equals two runningSum passes, bit-identically") {
    import spark.implicits._
    val vc = Seq(("a", 1L, 10L, 2L), ("a", 3L, 5L, 1L), ("a", 7L, 1L, 4L),
      ("b", 2L, 8L, 3L), ("b", 9L, 2L, 2L))
      .toDF("g", "v", "x", "c")
    val one = graft.operators.Cumulative.runningSums(vc, Seq("g"), "v",
      Seq("x" -> "px", "c" -> "pc"))
      .select("g", "v", "px", "pc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val two = {
      val a = graft.operators.Cumulative.runningSum(vc, Seq("g"), "v", "x", "px")
      graft.operators.Cumulative.runningSum(a, Seq("g"), "v", "c", "pc")
        .select("g", "v", "px", "pc").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    assert(one == two && one.size == 5)
    assert(one(("a", 7L, 16L, 7L)) && one(("b", 9L, 10L, 5L)))
  }

  test("peakCensus: strict local maxima only, boundaries never qualify") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // minute sums 1,5,2,7,3: peaks 5 and 7; the tallest is 7 at minute 3
    val e = Seq(1.0, 5.0, 2.0, 7.0, 3.0).zipWithIndex
      .map { case (v, m) => ("a", ts(m), v) }
      .toDF("event_type", "ts", "value")
    val got = Events.peakCensus(e).collect().head
    assert((got.getString(0), got.getLong(1), got.getString(2), got.getDouble(3))
      == (("a", 2L, "2024-01-01 00:03", 7.0)))
  }

  test("peakCensus: a plateau is not a strict peak") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val e = Seq(1.0, 5.0, 5.0, 1.0).zipWithIndex
      .map { case (v, m) => ("a", ts(m), v) }
      .toDF("event_type", "ts", "value")
    assert(Events.peakCensus(e).collect().isEmpty)
  }

  test("radiusSearch returns every neighbor past the threshold, only those") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.radiusSearch(emb, 1L, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    assert(got.toSeq == Seq((0L, 1L, 1.0), (0L, 3L, 0.8)))
  }

  test("refreshCdcMv state is batch-order independent and durable") {
    import spark.implicits._
    val root = tempDir("graft-spec-cdc").toString
    val cat = new graft.sources.Catalog(spark, root)
    // key 1: newer upsert applied FIRST, older delete second — the
    // stored sequence must keep the upsert. key 2: newer tombstone
    // applied first, older upsert second — the tombstone must survive
    // in state and suppress the key in the live view.
    val b1 = Seq((1L, 20L, "u", 100L), (2L, 50L, "d", 0L))
      .toDF("k", "seq", "op", "v")
    val b2 = Seq((1L, 10L, "d", 0L), (2L, 30L, "u", 999L))
      .toDF("k", "seq", "op", "v")
    cat.refreshCdcMv("cdc", b1, "k", "seq", "op")
    cat.refreshCdcMv("cdc", b2, "k", "seq", "op")
    val live = cat.cdcState("cdc", "op")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(live.toSeq == Seq((1L, 20L, 100L)))
    // a FRESH Catalog over the same root resumes from disk alone
    val cat2 = new graft.sources.Catalog(spark, root)
    val resumed = cat2.refreshCdcMv("cdc",
      Seq((2L, 60L, "u", 7L)).toDF("k", "seq", "op", "v"), "k", "seq", "op")
    assert(resumed.count() == 2)
    assert(cat2.cdcState("cdc", "op").collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
      == Seq((1L, 100L), (2L, 7L)))
  }

  test("cdcReplay is microbatch-boundary invariant") {
    val a = graft.streaming.EventStream.cdcReplay(spark, sfDir, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    val b = graft.streaming.EventStream.cdcReplay(spark, sfDir, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("sourceDiversity: exact Simpson, null for a pairless group") {
    import spark.implicits._
    // en: a×3 b×1 → pairs 6 of 12 → 0.5; xx: single doc → null
    val docs = Seq(("en", "a"), ("en", "a"), ("en", "a"), ("en", "b"),
      ("xx", "a")).toDF("lang", "source")
    val got = graft.operators.TextAnalysis.sourceDiversity(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1)
    assert(got.toSeq == Seq(("en", 4L, 2L, Some(0.5)), ("xx", 1L, 1L, None)))
  }

  test("sourceOverlap: exact vocabulary Jaccard, canonical orientation") {
    import spark.implicits._
    val docs = Seq(("a", "x y"), ("b", "y z z")).toDF("source", "text")
    val got = graft.operators.TextAnalysis.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("a", "b", 2L, 2L, 1L,
      math.floor(1.0 / 3 * 1e6 + 0.5) / 1e6)))
  }

  test("runsTest counts alternations against the discrete median") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // cents 100,900,100,900: percentile_disc(.5) = 100 (cume 0.5),
    // above = F,T,F,T → 4 runs, 2 above
    val e = Seq(1.0, 9.0, 1.0, 9.0).zipWithIndex
      .map { case (v, i) => ("a", ts(i + 1), (i + 1).toLong, v) }
      .toDF("event_type", "ts", "event_id", "value")
    val got = graft.operators.Events.runsTest(e).collect().head
    assert((got.getString(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == (("a", 4L, 2L, 4L)))
  }

  test("matchEpisodes: negation blocks, reopen re-arms, others ignored") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    val e = Seq(
      (1L, "signup", 1), (1L, "view", 2), (1L, "purchase", 3), // dur 2s
      (1L, "error", 4), (1L, "purchase", 5),                   // blocked
      (1L, "signup", 6), (1L, "purchase", 7),                  // dur 1s
      (2L, "purchase", 1))                                     // never opened
      .map { case (u, t, s) => (u, t, ts(s), s.toLong) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = graft.operators.Events.matchEpisodes(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 3000000L, 1500000.0)))
  }

  test("deseasonOutliers keeps threshold ties — rank()<=k semantics") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // one hour-of-week bucket, cents 100,100,100,500 → expected 200,
    // |resid| = 100,100,100,300: the 3rd-largest is 100, so ALL FOUR
    // rows survive (ties included), exactly rank() <= 3
    val e = Seq(1.0, 1.0, 1.0, 5.0).zipWithIndex
      .map { case (v, i) => ("a", ts(i + 1), (i + 1).toLong, v) }
      .toDF("event_type", "ts", "event_id", "value")
    val got = graft.operators.Events.deseasonOutliers(e).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got.length == 4)
    assert(got.map(_._3).sorted.toSeq == Seq(-100L, -100L, -100L, 300L))
    assert(got.forall(_._2 == 200L))
  }

  test("analyzeColumns: exact ndv/nulls/min/max per column") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), Some(2L), None).toDF("x")
    val got = graft.sources.Catalog.analyzeColumns(df, Seq("x")).collect().head
    assert((got.getString(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getString(4), got.getString(5)) == (("x", 4L, 2L, 1L, "1", "2")))
  }

  test("matchReplay is microbatch-invariant and equals the batch card") {
    val batch = graft.operators.Events.matchEpisodes(Tables.events(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val a = graft.streaming.EventStream.matchReplay(spark, sfDir, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val b = graft.streaming.EventStream.matchReplay(spark, sfDir, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(batch.nonEmpty && a == batch && b == batch)
  }

  test("saveAnnIndex: a fresh session serves identical results from disk") {
    val root = tempDir("graft-spec-ann").toString
    val emb = Tables.embeddings(spark, sfDir)
    val built = Similarity.buildIvfIndex(emb)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("qv"))
    val live = Similarity.ivfSearch(built, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    new graft.sources.Catalog(spark, root).saveAnnIndex("emb_ivf", built)
    // FRESH Catalog over the same root: no build, disk state only
    val loaded = new graft.sources.Catalog(spark, root).loadAnnIndex("emb_ivf")
    val fromDisk = Similarity.ivfSearch(loaded, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(live.nonEmpty && fromDisk == live)
    intercept[IllegalArgumentException] {
      new graft.sources.Catalog(spark, root).loadAnnIndex("nope")
    }
  }

  test("refreshAggMv retracts: a negative-counter correction delta lands exactly") {
    import spark.implicits._
    val root = tempDir("graft-spec-retr").toString
    val cat = new graft.sources.Catalog(spark, root)
    cat.refreshAggMv("mv", Seq(("a", 5L, 100L), ("b", 2L, 40L))
      .toDF("k", "cnt", "sum_v"), Seq("k"))
    // correction: 2 of a's rows (worth 30) were bogus — retract them
    cat.refreshAggMv("mv", Seq(("a", -2L, -30L)).toDF("k", "cnt", "sum_v"), Seq("k"))
    val got = cat.mvState("mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq(("a", 3L, 70L), ("b", 2L, 40L)))
  }

  test("funnelSteps at depth 3 equals the fixed funnel; depth gates hold") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // u1 completes all 3; u2 stops after view; u3's click PRECEDES the
    // view and must not count
    val e = Seq(
      (1L, "view", 1), (1L, "click", 2), (1L, "purchase", 3),
      (2L, "view", 1),
      (3L, "click", 1), (3L, "view", 2))
      .map { case (u, t, s) => (u, t, ts(s)) }.toDF("user_id", "event_type", "ts")
    val gen = graft.operators.Events.funnelSteps(e, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0),
        (1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)))).toMap
    val fixed = graft.operators.Events.funnel(e)
      .collect().map(r => (r.getLong(0),
        (1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)))).toMap
    assert(gen == fixed && gen.size == 3)
    // u1's steps land at 1, 2 and 3 s past the hour, in µs
    val t0 = ts(1).getTime * 1000L
    assert(gen(1L) == Seq(t0, t0 + 1000000L, t0 + 2000000L))
    assert(gen(2L).tail.forall(_ == -1L))
    // u3's click precedes its view: step 1 set, steps 2-3 empty
    assert(gen(3L).head > 0 && gen(3L).tail.forall(_ == -1L))
  }

  test("datasheet: exact integer metrics from a hand corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "s1"), (2L, "a b", "en", "s2"), (3L, "", "fr", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.operators.TextAnalysis.datasheet(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("n_docs") == 3L && got("n_sources") == 2L && got("n_langs") == 2L)
    assert(got("n_empty") == 1L && got("n_tokens") == 4L && got("n_types") == 2L)
    assert(got("n_exact_dup_surplus") == 1L)    // "a b" appears twice
    assert(got("max_chars") == 3L && got("median_chars") == 3L && got("n_chars") == 6L)
  }

  test("tukeyOutliers: integer cross-multiplied fences on a hand fixture") {
    import spark.implicits._
    // one nation, spends (cents) 100..700 + one 10000 outlier:
    // q1/q3 are discrete members; the planted whale must trip n_high
    val spend = ((1 to 7).map(i => ("N", i * 100L)) :+ (("N", 10000L)))
      .toDF("n_name", "x")
    // reuse the production grouping by driving the same arithmetic
    val quarts = spend.groupBy(col("n_name"))
      .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)")
        .cast("long").as("q1"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("q3"))
    val r = quarts.collect().head
    val (q1, q3) = (r.getLong(1), r.getLong(2))
    val nHigh = spend.where(col("x") * 2 > lit(q3 * 2 + (q3 - q1) * 3)).count()
    assert(nHigh == 1L)
  }

  test("kfoldLeakSafe: paired docs share a fold; folds span the range") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L)).toDF("id_a", "id_b")
    val got = graft.operators.Sampling.kfoldLeakSafe(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got.size == 40)
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(20L))
    assert(got.values.toSet.subsetOf((0 to 4).toSet) && got.values.toSet.size >= 3)
  }

  test("refreshAggMv with a batch id is exactly-once under retries") {
    import spark.implicits._
    val root = tempDir("graft-spec-eo").toString
    val cat = new graft.sources.Catalog(spark, root)
    val d1 = Seq(("a", 1L)).toDF("k", "n")
    cat.refreshAggMv("mv", d1, Seq("k"), Some(0L))
    // RETRY of batch 0 (the at-least-once double-apply) must be a no-op
    cat.refreshAggMv("mv", d1, Seq("k"), Some(0L))
    assert(cat.mvState("mv").collect().map(r => r.getLong(1)).toSeq == Seq(1L))
    // next batch applies; a replay of either past id is still a no-op
    cat.refreshAggMv("mv", d1, Seq("k"), Some(1L))
    cat.refreshAggMv("mv", d1, Seq("k"), Some(0L))
    cat.refreshAggMv("mv", d1, Seq("k"), Some(1L))
    assert(cat.mvState("mv").collect().map(r => r.getLong(1)).toSeq == Seq(2L))
    // id-less refreshes keep the historical at-will semantics
    cat.refreshAggMv("mv", d1, Seq("k"))
    assert(cat.mvState("mv").collect().map(r => r.getLong(1)).toSeq == Seq(3L))
  }

  test("saveDerived/loadDerived: the minhash index survives a fresh session") {
    val root = tempDir("graft-spec-sig").toString
    val docs = Tables.documents(spark, sfDir)
    val idx = graft.operators.Dedup.buildMinhashIndex(docs)
    new graft.sources.Catalog(spark, root).saveDerived("sig_index", idx)
    val loaded = new graft.sources.Catalog(spark, root).loadDerived("sig_index")
    val batch = graft.operators.Dedup.buildMinhashIndex(docs.limit(50)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val live = graft.operators.Dedup.dedupAgainstIndexSigned(idx, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val disk = graft.operators.Dedup.dedupAgainstIndexSigned(loaded, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live.nonEmpty && disk == live)
    intercept[IllegalArgumentException] {
      new graft.sources.Catalog(spark, root).loadDerived("nope")
    }
  }

  test("contractCard flags each planted defect in its own rule") {
    import spark.implicits._
    // planted: one negative price, one dup key, one orphan FK child
    val child = Seq((1L, 10.0, 100L), (2L, -5.0, 100L), (2L, 7.0, 999L))
      .toDF("id", "price", "parent_id")
    val parent = Seq(Tuple1(100L)).toDF("pid")
    val got = graft.sources.Catalog.contractCard(child,
      predicates = Seq("price_positive" -> (col("price") > 0)),
      uniqueKeys = Seq("id_unique" -> "id"),
      foreignKeys = Seq(("parent_fk", "parent_id", parent, "pid")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("price_positive" -> 1L, "id_unique" -> 1L,
      "parent_fk" -> 1L))
  }

  test("funnelRates: counts and conversions from a hand funnel") {
    import spark.implicits._
    val ts = (s: Int) => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    // u1 full path; u2 signup+view only; u3 signup only
    val e = Seq(
      (1L, "signup", 1), (1L, "view", 2), (1L, "click", 3), (1L, "purchase", 4),
      (2L, "signup", 1), (2L, "view", 2), (3L, "signup", 1))
      .map { case (u, t, s) => (u, t, ts(s)) }.toDF("user_id", "event_type", "ts")
    val got = graft.operators.Events.funnelRates(e)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq == Seq((1, 3L, 1.0),
      (2, 2L, math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6),
      (3, 1L, 0.5), (4, 1L, 1.0)))
  }

  test("weightedMedian: lower-median convention on a hand fixture") {
    import spark.implicits._
    // prices (cents) 100 w=1, 200 w=2, 300 w=1 → W=4; S(100)=1 (2<4),
    // S(200)=3 (6≥4) → wmedian 2.00. Equal-split case: 100 w=1,
    // 200 w=1 → W=2, S(100)=1, 2·1 ≥ 2 → LOWER median 1.00
    val li = Seq(("A", 1.00, 1.0), ("A", 2.00, 2.0), ("A", 3.00, 1.0),
      ("B", 1.00, 1.0), ("B", 2.00, 1.0))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
    val got = graft.operators.Analytics.weightedMedian(li)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("A", 2.0, 4L), ("B", 1.0, 2L)))
  }

  test("publish commits a complete, internally-consistent release") {
    val root = tempDir("graft-spec-pub").toString
    val docs = Tables.documents(spark, sfDir)
    val cat = new graft.sources.Catalog(spark, root)
    val summary = graft.operators.CorpusPipeline.publish(cat, docs, "rel1", 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // a FRESH Catalog reads the whole release from disk
    val cat2 = new graft.sources.Catalog(spark, root)
    val shards = cat2.loadDerived("rel1/shards")
    val manifest = cat2.loadDerived("rel1/manifest")
    val contract = cat2.loadDerived("rel1/contract")
    val datasheet = cat2.loadDerived("rel1/datasheet")
    val n = shards.count()
    assert(summary("n_docs") == n && n > 0 && n <= docs.count())
    // manifest docs sum == shard rows; shard count agrees
    assert(manifest.agg(sum("n_docs")).head().getLong(0) == n)
    assert(summary("n_shards") ==
      shards.select("shard").distinct().count())
    // the published corpus passes its own contract
    assert(summary("max_violations") == 0L)
    assert(contract.agg(max("n_violations")).head().getLong(0) == 0L)
    // datasheet counted the same corpus
    val dsDocs = datasheet.where(col("metric") === "n_docs")
      .head().getLong(1)
    assert(dsDocs == n)
    // split survived into the shards
    assert(shards.columns.contains("split") && shards.columns.contains("pos"))
  }

  test("growthAccounting: all four statuses from a hand fixture") {
    import spark.implicits._
    val day = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")
    // u1 active weeks {0,1,3}; u2 active weeks {0,2,3} (days 0/7/21 and
    // 0/14/21) → per relative week: 0: new×2; 1: retained(u1),
    // churned(u2); 2: churned(u1), resurrected(u2); 3: resurrected(u1),
    // retained(u2)
    val e = Seq((1L, 0), (1L, 7), (1L, 21), (2L, 0), (2L, 14), (2L, 21))
      .map { case (u, d) => (u, day(d)) }.toDF("user_id", "ts")
    val rows = graft.operators.Events.growthAccounting(e)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val w0 = rows.map(_._1).min
    val got = rows.map { case (wk, st, n) => ((wk - w0, st), n) }.toMap
    assert(got == Map(
      (0L, "new") -> 2L,
      (1L, "retained") -> 1L, (1L, "churned") -> 1L,
      (2L, "churned") -> 1L, (2L, "resurrected") -> 1L,
      (3L, "resurrected") -> 1L, (3L, "retained") -> 1L))
  }

  test("cohortLtv: cumulative revenue accrues within a cohort") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-$m%02d-15 00:00:00")
    // c1 joins in Jan, buys 10 then 20 in Mar; c2 joins in Mar, buys 5
    val o = Seq((1L, ts(1), 10.00), (1L, ts(3), 20.00), (2L, ts(3), 5.00))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = graft.operators.Analytics.cohortLtv(o)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val jan = (2024 - 1970) * 12L + 0
    val mar = jan + 2
    assert(got == Map(
      (jan, 0L) -> ((1L, 10.0, 10.0)),
      (jan, 2L) -> ((1L, 20.0, 30.0)),
      (mar, 0L) -> ((1L, 5.0, 5.0))))
  }

  test("stickiness: quiet days count as zero in the DAU mean") {
    import spark.implicits._
    // one user active 2 of 7 days in one epoch week, another active 1:
    // WAU 2, (user,day) rows 3 → mean_dau 3/7, stickiness 3/14
    // days 19719..19725 all share epoch week 19719/7 = 2817
    val day = (d: Long) => new java.sql.Timestamp(d * 86400000L)
    val e = Seq((1L, 19720L), (1L, 19722L), (2L, 19724L))
      .map { case (u, d) => (u, day(d)) }.toDF("user_id", "ts")
    val got = graft.operators.Events.stickiness(e).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 2L)
    assert(r.getDouble(2) == math.floor(3.0 / 7 * 1e6 + 0.5) / 1e6)
    assert(r.getDouble(3) == math.floor(3.0 / 7 / 2 * 1e6 + 0.5) / 1e6)
  }

  test("forecastBacktest: time-aligned, not row-aligned, across gaps") {
    import spark.implicits._
    val hr = (h: Long) => new java.sql.Timestamp(h * 3600000L)
    // hours 0 and 2 in week 1; hours 168 and 169 in week 2. Hour 168
    // predicts from hour 0 (err 3.00); hour 169 has NO hour-1 ancestor
    // (row-lag would wrongly reach hour 2) and scores nothing
    val e = Seq(("a", hr(0), 1.00), ("a", hr(2), 9.00),
      ("a", hr(168), 4.00), ("a", hr(169), 5.00))
      .toDF("event_type", "ts", "value")
    val got = graft.operators.Events.forecastBacktest(e).collect()
    assert(got.length == 1)
    assert((got.head.getLong(1), got.head.getDouble(2)) == ((1L, 3.0)))
  }

  test("newVsRepeat: first-month orders are new, later ones repeat") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-$m%02d-10 00:00:00")
    val o = Seq((1L, ts(1), 10.00), (1L, ts(2), 20.00), (2L, ts(2), 5.00))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val jan = (2024 - 1970) * 12L
    val got = graft.operators.Analytics.newVsRepeat(o)
      .collect().map(r => (r.getLong(0),
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      jan -> ((10.0, 0.0, 1L, 0L)),
      (jan + 1) -> ((5.0, 20.0, 1L, 1L))))
  }

  test("equiDepthHistogram: quartile boundaries, ties leave buckets empty") {
    import spark.implicits._
    // 1,1,1,1,2,3,4,8 with k=4: cuts at disc(.25)=1, disc(.5)=1,
    // disc(.75)=3 → bucket1 gets ALL the ties (4 rows), bucket2 empty,
    // bucket3 = {2,3}, bucket4 = {4,8}
    val df = Seq(1L, 1L, 1L, 1L, 2L, 3L, 4L, 8L).toDF("x")
    val got = graft.sources.Catalog.equiDepthHistogram(df, col("x"), 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, 4L, 1L, 1L), (3, 2L, 2L, 3L), (4, 2L, 4L, 8L)))
  }

  test("reorderGaps: same-day orders gap zero, firsts excluded") {
    import spark.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // c1 orders days 1, 1, 11 → gaps 0, 10; c2 single order → none
    val o = Seq((1L, 101L, ts(1)), (1L, 102L, ts(1)), (1L, 103L, ts(11)),
      (2L, 201L, ts(5)))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val r = graft.operators.Analytics.reorderGaps(o).collect().head
    assert((r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((2L, 5.0, 0L, 0L, 10L)))
  }

  test("peakConcurrency: sweep-line peak on overlapping hand sessions") {
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1 session 0-10min; u2 session 5-20; u3 session 6-8; u4 single
    // event at 40 (its own session) → peak 3 live sessions, first at
    // minute 6
    val e = Seq((1L, 0), (1L, 10), (2L, 5), (2L, 20), (3L, 6), (3L, 8),
      (4L, 40)).map { case (u, m) => (u, ts(m)) }.toDF("user_id", "ts")
    val r = graft.operators.Events.peakConcurrency(e).collect().head
    assert(r.getLong(1) == 3L)
    assert(r.getLong(0) ==
      java.sql.Timestamp.valueOf("2024-01-01 00:06:00").getTime * 1000L)
  }

  test("skewCard: planted hot key trips the ratio; uniform keys don't") {
    import spark.implicits._
    val uniform = (1L to 3200L).toDF("k")
    val u = graft.sources.Catalog.skewCard(uniform, col("k")).collect().head
    assert(u.getLong(0) == 32L && u.getLong(1) == 3200L)
    assert(u.getDouble(4) < 1.5)
    val hot = ((1L to 100L) ++ Seq.fill(900)(7L)).toDF("k")
    val h = graft.sources.Catalog.skewCard(hot, col("k")).collect().head
    assert(h.getDouble(4) > 10.0) // 900 of 1000 rows share one bucket
  }

  test("langProfile: exact mean and discrete median per language") {
    import spark.implicits._
    val docs = Seq(("en", "ab"), ("en", "abcd"), ("fr", "xyz"))
      .toDF("lang", "text")
    val got = graft.operators.TextAnalysis.langProfile(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("en", 2L, 3.0, 2L), ("fr", 1L, 3.0, 3L)))
  }

  test("basketRules: confidence and lift from one hand fixture") {
    import spark.implicits._
    // baskets: {1,2} ×2, {1,3} ×1, {2,3} ×1 → nb=4; item counts
    // 1→3, 2→3, 3→2; pair (1,2) support 2: conf 2/3, lift 2·4/(3·3)
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 2L), (13L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val got = Analytics.basketRules(li, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq((1L, 2L, 2L,
      math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6,
      math.floor(8.0 / 9 * 1e6 + 0.5) / 1e6)))
  }
}
