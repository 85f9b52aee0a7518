package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Events, Graph, TextAnalysis}

/** Round-6 operator family: dyadic EWMA, forward fill, Markov
  * transitions, rolling median, fixed-point PageRank, moment-sum
  * correlation, bool/bit aggregates, basket arrays, char n-grams. */
class Round6OpsSpec extends SparkSpec {

  private def eventsDf(rows: Seq[(Long, Long, Long, Double)]) = {
    // (event_id, user_id, ts_us, value)
    import spark.implicits._
    rows.toDF("event_id", "user_id", "tsu0", "value")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(tsu0)").as("ts"), col("value"))
  }

  test("ewmaDecayedSum matches the hand-computed dyadic weights") {
    val hourUs = 3600000000L
    val df = eventsDf(Seq(
      (1L, 7L, 0L, 1.0), (2L, 7L, hourUs, 2.0), (3L, 7L, 2 * hourUs, 3.0)))
    val got = Events.ewmaDecayedSum(df, depth = 16)
      .orderBy("event_id")
      .select("ewma_scaled", "ewma")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // cents 100/200/300; weight 2^15 on the current row, halving backwards
    assert(got(0) == ((100L << 15, 100.0)))
    assert(got(1) == (((100L << 14) + (200L << 15), 100.0 / 2 + 200.0)))
    assert(got(2) == (((100L << 13) + (200L << 14) + (300L << 15),
      100.0 / 4 + 200.0 / 2 + 300.0)))
  }

  test("ewma window depth bounds the frame: event depth+1 back has no effect") {
    val df = eventsDf((1 to 5).map(i => (i.toLong, 9L, i * 1000000L, 4.0)))
    val shallow = Events.ewmaDecayedSum(df, depth = 2)
      .orderBy("event_id").select("ewma_scaled").collect().map(_.getLong(0))
    // depth 2: current*2 + prev*1, regardless of older history
    assert(shallow.toSeq == Seq(400L * 2, 400 + 800, 400 + 800, 400 + 800, 400 + 800))
  }

  test("gapFillForward carries the last observation through silent hours") {
    val hourUs = 3600000000L
    val df = eventsDf(Seq(
      (1L, 5L, 0L, 1.0),              // hour 0, cents 100
      (2L, 5L, 10L, 2.5),             // hour 0 later event -> cents 250 wins
      (3L, 5L, 3 * hourUs, 9.0)))     // hour 3; hours 1-2 silent
    val got = Events.gapFillForward(df)
      .orderBy("hr")
      .select("hr", "filled_cents", "observed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 250L, 1L), (1L, 250L, 0L), (2L, 250L, 0L),
      (3L, 900L, 1L)))
  }

  test("transitionMatrix counts ordered pairs and rows are stochastic per source") {
    val df = {
      import spark.implicits._
      Seq((1L, 1L, 1L, "view"), (2L, 1L, 2L, "view"), (3L, 1L, 3L, "purchase"),
        (4L, 2L, 1L, "view"), (5L, 2L, 2L, "click"))
        .toDF("event_id", "user_id", "tsu0", "event_type")
        .select(col("event_id"), col("user_id"),
          expr("timestamp_micros(tsu0)").as("ts"), col("event_type"),
          lit(0.0).as("value"))
    }
    val got = Events.transitionMatrix(df)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(("view", "view")) == ((1L, 1.0 / 3)))
    assert(got(("view", "purchase")) == ((1L, 1.0 / 3)))
    assert(got(("view", "click")) == ((1L, 1.0 / 3)))
    assert(got.keySet == Set(("view", "view"), ("view", "purchase"), ("view", "click")))
  }

  test("rollingMedian interpolates exactly over the row frame") {
    val df = eventsDf(Seq(
      (1L, 3L, 1L, 1.0), (2L, 3L, 2L, 3.0), (3L, 3L, 3L, 2.0)))
    val got = Events.rollingMedian(df, frame = 5)
      .orderBy("event_id").select("med_cents").collect().map(_.getDouble(0))
    // frames: [100] -> 100; [100,300] -> 200; [100,300,200] -> 200
    assert(got.toSeq == Seq(100.0, 200.0, 200.0))
  }

  test("pagerank on a 3-cycle is uniform and exactly SCALE-conserving per step") {
    import spark.implicits._
    val edges = Seq(("a", "b", 5L), ("b", "c", 5L), ("c", "a", 5L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c").toDF("node")
    val ranks = Graph.pagerank(edges, nodes, iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // symmetric cycle: every node keeps the uniform fixed point
    // r = (15%·S)/3 + 85%·r  with r0 = S/3 — and floor-div makes it exact
    val s = Graph.Scale
    var r = s / 3
    for (_ <- 1 to 3) r = ((s / 100) * 15) / 3 + (85 * r) / 100
    assert(ranks.values.toSet == Set(r))
  }

  test("pagerank handles sinks and sources deterministically") {
    import spark.implicits._
    // b is a sink (no out-edges): its mass drops each iteration
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val nodes = Seq("a", "b").toDF("node")
    val ranks = Graph.pagerank(edges, nodes, iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val s = Graph.Scale
    val base = ((s / 100) * 15) / 2
    assert(ranks("a") == base) // nothing points at a
    assert(ranks("b") == base + (85 * (s / 2)) / 100) // a's whole rank
  }

  test("pagerank refuses overflowing weights; prescaleWeights remedies") {
    import spark.implicits._
    // w = 1e13 puts rank·w past 2^63 — the guard must refuse loudly
    // instead of letting non-ANSI arithmetic wrap
    val hot = Seq(("a", "b", 10000000000000L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b").toDF("node")
    val e = intercept[IllegalArgumentException](
      Graph.pagerank(hot, nodes, iters = 1))
    assert(e.getMessage.contains("prescaleWeights"))
    // the automatic remedy: weights land in [1, WeightLimit] and the
    // run completes with total mass ≤ SCALE (floor-div only loses mass)
    val scaled = Graph.prescaleWeights(hot)
    val ws = scaled.select("w").as[Long].collect()
    assert(ws.forall(w => w >= 1L && w <= Graph.WeightLimit))
    val ranks = Graph.pagerank(scaled, nodes, iters = 2)
      .agg(org.apache.spark.sql.functions.sum("rank_scaled")).head.getLong(0)
    assert(ranks > 0L && ranks <= Graph.Scale)
    // already-safe weights pass through the SAME frame (no-op)
    val ok = Seq(("a", "b", 5L)).toDF("src", "dst", "w")
    assert(Graph.prescaleWeights(ok) eq ok)
  }

  test("corrQtyPrice agrees with the float built-ins to 1e-9") {
    val li = Tables.lineitem(spark, sfDir)
    val exact = Analytics.corrQtyPrice(li)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = li.groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cv"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ref.foreach { case (k, (c, cv)) =>
      assert(math.abs(exact(k)._1 - c) < 1e-9, s"corr $k")
      // covar_pop_c2 is in cents² units
      assert(math.abs(exact(k)._2 / 10000.0 - cv) < math.abs(cv) * 1e-9, s"covar $k")
    }
  }

  test("orderBaskets arrays are sorted, bounded and fold-consistent") {
    val got = Analytics.orderBaskets(Tables.lineitem(spark, sfDir))
    val bad = got.where(
      col("first_part") > col("last_part") ||
        size(split(col("parts_csv"), ",")) =!= col("n_parts"))
    assert(bad.count() == 0)
    // spot check: sum of csv elements equals the fold
    val r = got.orderBy("l_orderkey").limit(1).collect()(0)
    val csvSum = r.getAs[String]("parts_csv").split(",").map(_.toLong).sum
    assert(csvSum == r.getAs[Long]("sum_parts"))
  }

  test("charNgramTop ranks by (cnt desc, gram) and stays ASCII") {
    import spark.implicits._
    val docs = Seq((1L, "aaab"), (2L, "aaa"), (3L, "abéxy")).toDF("doc_id", "text")
    val got = TextAnalysis.charNgramTop(docs, k = 10)
      .orderBy("rk").collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // "aaab" yields aaa,aab; "aaa" yields aaa; every é-containing gram
    // of the third doc is filtered by the ASCII guard
    assert(got.toSeq == Seq(("aaa", 2L, 1), ("aab", 1L, 2)))
  }

  test("triangleCensus counts each oriented triangle once") {
    import spark.implicits._
    // square a-b-c-d with diagonal a-c: triangles (a,b,c) and (a,c,d);
    // directed duplicates and self-loops must not inflate the census
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("a", "c"), ("c", "a"), ("b", "b"))
      .map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val r = Graph.triangleCensus(edges).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 5L, 2L)))
  }

  test("yoyRevenue growth is the exact rational of consecutive years") {
    val rows = Analytics.yoyRevenue(spark, sfDir)
      .where(col("n_name") === "NATION_0").orderBy("o_year")
      .select("revenue", "yoy_growth").collect()
    assert(rows.head.isNullAt(1)) // first year has no prior
    rows.sliding(2).foreach { case Array(p, c) =>
      val expect = (c.getDouble(0) * 100 - p.getDouble(0) * 100) / (p.getDouble(0) * 100)
      assert(math.abs(c.getDouble(1) - expect) < 1e-12)
    case _ => ()
    }
  }

  test("slidingDistinctUsers counts each user once per window") {
    val hourUs = 3600000000L
    // user 7 fires twice in the same 15-min slot -> still 1 per window
    val df = eventsDf(Seq(
      (1L, 7L, 0L, 1.0), (2L, 7L, 60000000L, 1.0), (3L, 8L, 0L, 1.0)))
    val got = Events.slidingDistinctUsers(df)
      .orderBy("win_start").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 4) // 4 overlapping hour windows per slot
    assert(got.forall(_._2 == 2L))
  }

  test("trailingSpend range frame includes exactly the 30-day window") {
    import spark.implicits._
    val dayUs = 86400000000L
    val orders = Seq(
      (1L, 9L, 0L, 10.0), (2L, 9L, 10 * dayUs, 20.0), (3L, 9L, 50 * dayUs, 40.0))
      .toDF("o_orderkey", "o_custkey", "odu0", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("timestamp_micros(odu0)").as("o_orderdate"), col("o_totalprice"))
    val got = Analytics.trailingSpend(orders)
      .orderBy("o_orderkey")
      .select("trailing_cents", "trailing_orders")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // day 50 is 40 days past day 10: only itself in frame
    assert(got.toSeq == Seq((1000L, 1L), (3000L, 2L), (4000L, 1L)))
  }

  test("dowHourHeatmap pins epoch day 0 to Thursday") {
    val df = eventsDf(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 3 * 86400000000L + 3600000000L, 2.0)))
    val got = Events.dowHourHeatmap(df)
      .orderBy("dow").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // epoch 0 = Thursday (dow 4 with Sunday=0); +3 days = Sunday, hour 1
    assert(got.toSeq == Seq((0L, 1L, 1L), (4L, 0L, 1L)))
  }

  test("sentenceStats splits, trims and averages exactly") {
    import spark.implicits._
    val docs = Seq((1L, "Hi there. Bye! Ok?"), (2L, "...")).toDF("doc_id", "text")
    val got = TextAnalysis.sentenceStats(docs)
      .orderBy("doc_id").collect()
    assert(got(0).getInt(1) == 3 && got(0).getLong(2) == 13L)
    assert(math.abs(got(0).getDouble(3) - 13.0 / 3) < 1e-12)
    assert(got(1).getInt(1) == 0 && got(1).getLong(2) == 0L && got(1).isNullAt(3))
  }

  test("partitionedLayout answers the partition filter from the listing") {
    val root = tempDir("graft-spec-layout").toString
    val v = new graft.sources.Catalog(spark, sfDir, Some(root))
      .partitionedLayout(Tables.orders(spark, sfDir), "orders-spec", "o_orderstatus")
    val pruned = v.where(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"no partition filter in:\n$plan")
    // pruning must not change results vs the plain filtered table
    val expect = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F").count()
    assert(pruned.count() == expect)
    // and the scan touches only the matching partition directory
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.selectedPartitions.partitionCount == 1))
  }

  test("decayed_sum native kernel is bit-identical to the HOF fold") {
    import spark.implicits._
    val frames = Seq(
      Seq(100L), Seq(100L, 200L), (1 to 16).map(i => i.toLong * 7919L),
      Seq(0L, -500L, Long.MaxValue >> 20)).map(Tuple1(_)).toDF("frame")
    val native = frames
      .select(graft.functions.DecayedSum.decayedSum(col("frame"), lit(16)))
      .collect().map(_.getLong(0)).toSeq
    val hof = frames.select(expr(
      """aggregate(transform(frame, (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i + 16 - size(frame))),
         CAST(0 AS BIGINT), (acc, x) -> acc + x)"""))
      .collect().map(_.getLong(0)).toSeq
    assert(native == hof)
    // null frame nulls the fold (nullIntolerant)
    val n = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("frame")
      .select(graft.functions.DecayedSum.decayedSum(col("frame"), lit(16)))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("boolBitProfile bit identities hold") {
    val got = Analytics.boolBitProfile(Tables.orders(spark, sfDir))
    // and ⊆ or as bit sets
    val bad = got.where((col("keys_and").bitwiseAND(col("keys_or"))) =!= col("keys_and"))
    assert(bad.count() == 0)
  }
}
