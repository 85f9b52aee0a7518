package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Events, Graph}

/** Round-6 second wave: degree profile, sparsified BFS, exact Gini,
  * MAD outliers, watermark lateness audit, basket pairs. */
class Round6bOpsSpec extends SparkSpec {

  private def edgesDf(rows: Seq[(String, String, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst", "w")
  }

  test("degreeProfile counts both directions and keeps isolated nodes") {
    import spark.implicits._
    val edges = edgesDf(Seq(("a", "b", 2L), ("a", "c", 3L), ("b", "a", 1L)))
    val nodes = Seq("a", "b", "c", "d").toDF("node")
    val got = Graph.degreeProfile(edges, nodes)
      .orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("a", 2L, 5L, 1L, 1L),
      ("b", 1L, 1L, 1L, 2L),
      ("c", 0L, 0L, 1L, 3L),
      ("d", 0L, 0L, 0L, 0L)))
  }

  test("shortestPaths prunes to top-fanout edges and settles exact hop counts") {
    import spark.implicits._
    // single-source shortest paths: allPairsHops seeded with one source
    // over the top-fanout backbone
    // fanout=1 keeps only a→c (w 9 beats w 5); path to b is a→c→b
    val edges = edgesDf(Seq(("a", "b", 5L), ("a", "c", 9L), ("c", "b", 1L),
      ("d", "d", 7L))) // self-loop must be ignored
    val source = Seq("a").toDF("node")
    // both ladder rungs must produce the same distances: the driver
    // BFS (default route at this size) and the forced distributed
    // relaxation (the 100 TB path)
    for (localMax <- Seq(10000L, 0L)) {
      val got = Graph.allPairsHops(Graph.topKBackbone(edges, 1), source,
          maxHops = 4, localMaxEdges = localMax)
        .select("node", "hops").orderBy("node")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // d is unreachable → absent, not infinite
      assert(got.toSeq == Seq(("a", 0L), ("b", 2L), ("c", 1L)),
        s"route localMaxEdges=$localMax")
    }
  }

  test("giniByGroup matches hand-computed coefficients, ties collapsed") {
    import spark.implicits._
    val spend = Seq(("eq", 7L), ("eq", 7L), ("eq", 7L),
      ("mix", 1L), ("mix", 1L), ("mix", 2L)).toDF("n_name", "x")
    val got = Analytics.giniByGroup(spend)
      .orderBy("n_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // mix: sorted 1,1,2 → n=3, Σx=4, Σi·xᵢ=1+2+6=9 → (18−16)/12
    assert(got.toSeq == Seq(("eq", 3L, 0.0), ("mix", 3L, 2.0 / 12.0)))
  }

  private def typedEvents(rows: Seq[(Long, Long, Long, String, Double)]) = {
    // (event_id, user_id, ts_us, event_type, value)
    import spark.implicits._
    rows.toDF("event_id", "user_id", "tsu0", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(tsu0)").as("ts"), col("event_type"), col("value"))
  }

  test("madOutliers flags only beyond k·MAD; zero-MAD groups flag any deviation") {
    val df = typedEvents(Seq(
      (1L, 1L, 0L, "t", 1.0), (2L, 1L, 1L, "t", 1.0), (3L, 1L, 2L, "t", 1.0),
      (4L, 1L, 3L, "t", 1.0), (5L, 1L, 4L, "t", 100.0),
      (6L, 2L, 5L, "u", 3.0), (7L, 2L, 6L, "u", 3.0))) // zero variance → nothing
    val got = Events.madOutliers(df, k = 5)
      .select("event_id", "event_type", "deviation")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((5L, "t", 9900.0)))
  }

  test("latenessAudit replays the hourly-batch arrival model") {
    val hourUs = 3600000000L
    // hour 0: user 1 produces at t=3500s, user 2 at t=10s. Arrival order
    // is (hour, user, id): u2's event lands AFTER u1's, 3490 s late.
    val df = typedEvents(Seq(
      (1L, 1L, 3500L * 1000000L, "click", 1.0),
      (2L, 2L, 10L * 1000000L, "click", 1.0),
      (3L, 3L, hourUs + 5L, "click", 1.0))) // next hour, on time
    val got = Events.latenessAudit(df)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // 3490 s trips the 1 m and 10 m watermarks but not 1 h
    assert(got.toSeq == Seq(("click", 3L, 1L, 1L, 0L, 3490L)))
  }

  test("keywordTopK ranks by rounded score then word, per doc") {
    import spark.implicits._
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.keywordTopK(docs, k = 3)
      .orderBy("doc_id", "rank")
      .select("doc_id", "word", "tfidf_lin", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // n=2; df: apple 1, banana 2, cherry 1 → d1: apple 2·(2/1)=4,
    // banana 1·(2/2)=1; d2: cherry 2, banana 1
    assert(got.toSeq == Seq(
      (1L, "apple", 4.0, 1L), (1L, "banana", 1.0, 2L),
      (2L, "cherry", 2.0, 1L), (2L, "banana", 1.0, 2L)))
  }

  test("dedupSweep counts pairs and affected docs per threshold from one mine") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"))
      .toDF("doc_id", "text")
    // pairs: (1,2) j=1.0; (1,3) and (2,3) j=1/3
    val got = graft.operators.Dedup.dedupSweep(docs).collect().head
    assert(got.getLong(got.fieldIndex("n_pairs_25")) == 3L)
    assert(got.getLong(got.fieldIndex("n_pairs_50")) == 1L)
    assert(got.getLong(got.fieldIndex("n_pairs_75")) == 1L)
    assert(got.getLong(got.fieldIndex("n_docs_25")) == 3L)
    assert(got.getLong(got.fieldIndex("n_docs_50")) == 2L)
    assert(got.getLong(got.fieldIndex("n_docs_75")) == 2L)
  }

  test("refreshAggMv accumulates durable state a fresh session resumes from") {
    import spark.implicits._
    val root = tempDir("graft-spec-mv").toString
    val cat = new graft.sources.Catalog(spark, root)
    val batch1 = Seq(("d1", 2L, 100L), ("d2", 1L, 50L)).toDF("day", "n", "c")
    val got1 = cat.refreshAggMv("orders_day", batch1, Seq("day"))
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got1.toSeq == Seq(("d1", 2L, 100L), ("d2", 1L, 50L)))
    // the committed state reads back through a fresh Catalog
    assert(new graft.sources.Catalog(spark, root).mvState("orders_day").count() == 2L)
    // refresh 2 merges INTO the stored state (write-back, not merge-
    // against-original): d3 inserts, d2 merges, d1 passes through
    val delta1 = Seq(("d2", 1L, 25L), ("d3", 4L, 10L)).toDF("day", "n", "c")
    val got2 = cat.refreshAggMv("orders_day", delta1, Seq("day"))
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq == Seq(("d1", 2L, 100L), ("d2", 2L, 75L), ("d3", 4L, 10L)))
    // FRESH SESSION resume: a new session + new Catalog instance share
    // no process state with the ones above — the third refresh must
    // accumulate onto got2 purely from the stored parquet, without the
    // earlier batches being re-presented (history is never rescanned)
    val s2 = spark.newSession()
    val cat2 = new graft.sources.Catalog(s2, root)
    val delta2 = s2.createDataFrame(Seq(("d1", 1L, 1L))).toDF("day", "n", "c")
    val got3 = cat2.refreshAggMv("orders_day", delta2, Seq("day"))
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got3.toSeq == Seq(("d1", 3L, 101L), ("d2", 2L, 75L), ("d3", 4L, 10L)))
    // mvState reads the same committed state; equality with a full
    // recompute of all three batches = refresh ≡ recompute
    val full = batch1.unionByName(delta1)
      .unionByName(Seq(("d1", 1L, 1L)).toDF("day", "n", "c"))
      .groupBy("day").agg(sum($"n").as("n"), sum($"c").as("c"))
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val state = cat2.mvState("orders_day")
      .orderBy("day").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(state.toSeq == full.toSeq && state.toSeq == got3.toSeq)
    // dropDerived removes the state; mvState then refuses
    assert(cat2.dropDerived("orders_day"))
    intercept[IllegalArgumentException](cat2.mvState("orders_day"))
  }

  test("trending ranks top-k users per (type, hour) cell deterministically") {
    val df = typedEvents(Seq(
      (1L, 1L, 0L, "t", 1.0), (2L, 1L, 1L, "t", 1.0), (3L, 1L, 2L, "t", 1.0),
      (4L, 2L, 3L, "t", 1.0), (5L, 2L, 4L, "t", 1.0),
      (6L, 3L, 5L, "t", 1.0), (7L, 3L, 6L, "t", 1.0),
      (8L, 4L, 7L, "t", 1.0)))
    val got = graft.operators.Events.trending(df, k = 3)
      .orderBy("rnk")
      .select("user_id", "cnt", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // tie between users 2 and 3 at cnt=2 breaks by user id; user 4 cut
    assert(got.toSeq == Seq((1L, 3L, 1L), (2L, 2L, 2L), (3L, 2L, 3L)))
  }

  test("leakSafeSplit keeps near-dup pairs on one side of the split") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val got = graft.operators.Sampling.leakSafeSplit(docs, pairs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // 1 and 3 share root 1 → identical split; singleton 2 roots at itself
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    assert(got(0)._3 == got(2)._3)
    val solo = graft.operators.Sampling.hashSplit(docs.where($"doc_id" === 2))
      .collect().head.getString(1)
    assert(got(1)._3 == solo) // singleton assignment == plain hash split
  }

  test("integrityCard counts planted dup keys, orphans, and nulls exactly") {
    import spark.implicits._
    val ord = Seq((1L, 10L, Some(0L)), (1L, 10L, Some(0L)), (2L, 99L, None))
      .toDF("o_orderkey", "o_custkey", "d0")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("timestamp_micros(d0)").as("o_orderdate"))
    val li = Seq((1L, Some(1.0)), (7L, Some(2.0)), (2L, None))
      .toDF("l_orderkey", "l_quantity")
    val cust = Seq(10L).toDF("c_custkey")
    val got = graft.operators.Analytics.integrityCard(ord, li, cust)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // order 1 duplicated; lineitem 7 orphaned; order 2's cust 99 missing;
    // one null qty; one null date
    assert(got == Map("orders_rows" -> 3L, "orders_dup_keys" -> 1L,
      "lineitem_orphans" -> 1L, "orders_orphan_cust" -> 1L,
      "lineitem_null_qty" -> 1L, "orders_null_date" -> 1L))
  }

  test("driftKs finds the exact KS distance and its attaining value") {
    import spark.implicits._
    val a = Seq(1L, 2L).toDF("x")
    val b = Seq(2L, 3L).toDF("x")
    val got = graft.operators.TextAnalysis.driftKs(a, b, "x").collect().head
    // cum a: 1,2,2 ; cum b: 0,1,2 over values 1,2,3 → |Fa·nb−Fb·na|
    // = 2,2,0 → KS = 2/4 = 0.5, tie at v=1 vs v=2 broken to the smaller
    assert((got.getLong(0), got.getLong(1), got.getDouble(2), got.getLong(3))
      == ((2L, 2L, 0.5, 1L)))
    // identical samples → KS 0
    val same = graft.operators.TextAnalysis.driftKs(a, a, "x").collect().head
    assert(same.getDouble(2) == 0.0)
  }

  test("epochPlan buys each source an equal share of the token budget") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d", "s1"), (2L, "a b", "s1"), (3L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.Sampling.epochPlan(docs, targetTokens = 12L)
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // two sources → 6 tokens each; s1 holds 6 tokens (1 epoch), s2
    // holds 2 (share buys 3 epochs → must be repeated)
    assert(got.toSeq == Seq(("s1", 2L, 6L, 6.0, 1.0), ("s2", 1L, 2L, 6.0, 3.0)))
  }

  test("epochPlanWeighted card rates are exactly the rates mixtureSample applies") {
    import spark.implicits._
    // s1: 6 tokens over 2 docs; s2: 2 tokens in 1 doc. weights 1:3 at
    // target 8 → w_sum 4, s1 share 2.0 (epochs 1/3 → subsample at 1/3),
    // s2 share 6.0 (epochs 3.0 → keep all, repeat 3x)
    val docs = Seq((1L, "a b c d", "s1"), (2L, "a b", "s1"), (3L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val card = graft.operators.Sampling.epochPlanWeighted(docs, 8L,
      Map("s2" -> 3.0))
    val got = card.orderBy("source").collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
      r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("s1", 2L, 6L, 1.0, 2.0, 2.0 / 6.0, 2.0 / 6.0),
      ("s2", 1L, 2L, 3.0, 6.0, 3.0, 1.0)))
    // consistency contract: the card's keep_rate column is bit-identical
    // to the hand-computed literals mixtureSample would be configured with
    val rates = card.select("source", "keep_rate").as[(String, Double)]
      .collect().toMap
    assert(rates == Map("s1" -> 2.0 / 6.0, "s2" -> 1.0))
    // and applying them: the epochs>1 source keeps every row (rate 1.0
    // admits any hash draw), the subsampled source keeps a subset
    val kept = graft.operators.Sampling.mixtureSample(docs, rates)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(3L))
    assert(kept.subsetOf(Set(1L, 2L, 3L)))
  }

  test("basketPairs keeps canonical pairs at min support") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 20L), (2L, 30L)).toDF("l_orderkey", "l_partkey")
    val got = Analytics.basketPairs(li, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // the always-present hot-basket sentinel reads 0 dropped here
    assert(got.toSeq == Seq((-1L, -1L, 0L), (20L, 30L, 2L)))
  }

  test("basketPairs hot-basket valve drops the pathological basket, not its peers") {
    import spark.implicits._
    // basket 9 is planted above the cap: with maxBasket=3 its C(5,2)=10
    // pairs must NOT be materialized, while the healthy baskets' pairs
    // survive and the sentinel row reports exactly one dropped basket
    val hot = (1L to 5L).map(p => (9L, p * 100L))
    val li = (Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)) ++ hot)
      .toDF("l_orderkey", "l_partkey")
    val got = Analytics.basketPairs(li, minSupport = 1L, maxBasket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq((-1L, -1L, 1L), (10L, 20L, 2L)))
    // raising the cap readmits the basket: 10 hot pairs + the healthy one
    val uncapped = Analytics.basketPairs(li, minSupport = 1L, maxBasket = 5)
    assert(uncapped.where($"p1" =!= -1L).count() == 11L)
    assert(uncapped.where($"p1" === -1L).head().getLong(2) == 0L)
  }
}
