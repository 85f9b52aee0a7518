package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, VectorFunctions}
import graft.operators.{Analytics, AsOfJoin}

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native cosine_sim matches the composed functions version") {
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", VectorFunctions.toDouble($"embedding").as("v"))
    val pairs = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id").limit(2000)
    val native = pairs.select(
      round(CosineSimilarity.cosineSim($"a.v", $"b.v"), 9).as("c"))
    val composed = pairs.select(
      round(VectorFunctions.dot($"a.v", $"b.v") /
        (VectorFunctions.norm($"a.v") * VectorFunctions.norm($"b.v")), 9).as("c"))
    assert(native.as[Double].collect().sorted.toSeq ==
      composed.as[Double].collect().sorted.toSeq)
  }

  test("cosine_sim is registered for SQL and self-similarity is 1") {
    Tables.embeddings(spark, sfDir)
      .select(VectorFunctions.toDouble($"embedding").as("v"))
      .createOrReplaceTempView("emb_v")
    val sims = spark.sql("SELECT cosine_sim(v, v) AS s FROM emb_v").as[Double].collect()
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("cosine_sim participates in whole-stage codegen") {
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", VectorFunctions.toDouble($"embedding").as("v"))
    val df = e.select(CosineSimilarity.cosineSim($"v", $"v"))
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.opPlanString
    // the "*(n)" prefix marks a WholeStageCodegen stage in compact form
    assert("""\*\(\d+\) Project \[cosinesimilarity""".r.findFirstIn(plan).isDefined)
  }

  test("cosine_sim and dot_product refuse vectors of different lengths") {
    def message(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    val cos = message("SELECT cosine_sim(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D))")
    assert(cos.contains("cosine_sim") && cos.contains("(2 vs 3)"), cos)
    val dot = message("SELECT dot_product(array(1.0D, 2.0D), array(1.0D, 2.0D, 99.0D))")
    assert(dot.contains("dot_product") && dot.contains("(2 vs 3)"), dot)
    // and per row, on columns
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val row = intercept[Exception](df.select(CosineSimilarity.cosineSim($"a", $"b")).collect())
    assert(Iterator.iterate[Throwable](row)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("(2 vs 1)")))
  }
}

class NearestCellsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.NearestCells.nearestCells

  private val cents = Array(
    Array(1.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0),
    Array(0.7, 0.7, 0.0))
  private val ids = Array(10L, 20L, 30L)

  test("nearest_cells returns centroids in cosine order with smallest-id tie-break") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),   // exact match of cell 10; 30 second
      (2L, Seq(0.0, 2.0, 0.0)),   // cell 20 first
      (3L, Seq(1.0, 1.0, 0.0)))   // ties cells 10 and 20 (cos .707) → 30 first, then 10
      .toDF("vec_id", "v")
    val out = df.select($"vec_id", nearestCells($"v", ids, cents, 2).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L) == Seq(10L, 30L))
    assert(out(2L) == Seq(20L, 30L))
    assert(out(3L) == Seq(30L, 10L))
  }

  test("zero-norm vectors land deterministically in the smallest-id cells, never the sentinel") {
    // cosine is undefined at norm 0: the guard floors sim at -1.0 so
    // the insertion loop still runs — without it every comparison is
    // false (NaN) and the Long.MaxValue sentinel leaks out
    val df = Seq((1L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val out = df.select(nearestCells($"v", ids, cents, 2).as("c"))
      .as[Seq[Long]].head()
    assert(out == Seq(10L, 20L))
  }

  test("a zero-norm centroid ranks below every real match") {
    val zc = Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0))
    val zids = Array(5L, 1L)
    val out = Seq((1L, Seq(1.0, 0.2, 0.0))).toDF("vec_id", "v")
      .select(nearestCells($"v", zids, zc, 2).as("c")).as[Seq[Long]].head()
    assert(out == Seq(5L, 1L))
  }

  test("nearest_cells matches per-row brute force on real embeddings") {
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", graft.functions.VectorFunctions.toDouble($"embedding").as("v"))
    val rows = e.limit(64).collect()
    val cids = rows.map(_.getLong(0))
    val cvs = rows.map(_.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val got = e.select($"vec_id", element_at(nearestCells($"v", cids, cvs, 1), 1).as("c"))
      .as[(Long, Long)].collect().toMap
    e.collect().foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val want = cids.zip(cvs).map { case (id, cv) => (id, cos(v, cv)) }
        .minBy { case (id, s) => (-s, id) }._1
      assert(got(r.getLong(0)) == want, s"vec ${r.getLong(0)}")
    }
  }

  test("nearest_cells assignment is a map-only codegen projection") {
    val df = Tables.embeddings(spark, sfDir)
      .select($"vec_id", graft.functions.VectorFunctions.toDouble($"embedding").as("v"))
      .select($"vec_id", element_at(nearestCells($"v", ids, cents, 1), 1).as("cell_id"))
    df.collect()
    val plan = df.opPlanString
    assert(!plan.contains("Exchange"), "assignment must not shuffle")
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      "assignment must run inside whole-stage codegen")
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-built edge cases (epoch µs): user 1 has a view and a purchase
    * at the same µs (20) and a view after its last purchase; user 2's
    * only view comes after its only purchase; user 3's only purchase
    * comes after its only view; clicks take no part. */
  private lazy val edgeEvents = Seq(
    (1L, "view", 10L), (1L, "view", 20L), (1L, "purchase", 20L),
    (1L, "click", 25L), (1L, "purchase", 30L), (1L, "view", 40L),
    (2L, "purchase", 5L), (2L, "view", 15L),
    (3L, "view", 50L), (3L, "purchase", 60L))
    .toDF("user_id", "event_type", "tsu")
    .select($"user_id", $"event_type", timestamp_micros($"tsu").as("ts"))

  test("purchaseAttribution: same-instant view counts, no prior view is null") {
    val out = AsOfJoin.purchaseAttribution(edgeEvents)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(out == Set((1L, 20L, Some(20L)), (1L, 30L, Some(20L)),
      (2L, 5L, None), (3L, 60L, Some(50L))))
  }

  test("purchaseAttribution: every purchase's last view is at-or-before it") {
    val out = AsOfJoin.purchaseAttribution(Tables.events(spark, sfDir))
    assert(out.count() > 0)
    assert(out.where($"last_view_us" > $"purchase_us").count() == 0)
  }

  test("viewNextPurchase: same-instant purchase counts, no later purchase is null") {
    val out = AsOfJoin.viewNextPurchase(edgeEvents)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(out == Set((1L, 10L, Some(20L)), (1L, 20L, Some(20L)),
      (1L, 40L, None), (2L, 15L, None), (3L, 50L, Some(60L))))
  }

  test("viewNextPurchase: every view's next purchase is at-or-after it") {
    val out = AsOfJoin.viewNextPurchase(Tables.events(spark, sfDir))
    assert(out.count() > 0)
    assert(out.where($"next_purchase_us" < $"view_us").count() == 0)
  }
}

class AnalyticsExtraSpec extends SparkSpec {
  import spark.implicits._

  test("cube contains rollup rows plus per-linestatus slices") {
    val out = Analytics.cubeSummary(Tables.lineitem(spark, sfDir))
    assert(out.where($"returnflag" === "ALL" && $"linestatus" === "ALL").count() == 1)
    assert(out.where($"returnflag" === "ALL" && $"linestatus" =!= "ALL").count() > 0)
  }

  test("setops tags are disjoint") {
    val out = Analytics.customerYearSets(Tables.orders(spark, sfDir))
    val both = out.where($"tag" === "both").select("o_custkey")
    val only = out.where($"tag" === "only_1996").select("o_custkey")
    assert(both.intersect(only).count() == 0)
  }

  test("median lies within group min/max") {
    val med = Analytics.medianByStatus(Tables.orders(spark, sfDir))
    val bounds = Tables.orders(spark, sfDir).groupBy($"o_orderstatus")
      .agg(min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    val joined = med.join(bounds, "o_orderstatus")
    assert(joined.where($"median_price" < $"lo" || $"median_price" > $"hi").count() == 0)
  }
}

class Round6Spec extends SparkSpec {
  import spark.implicits._
  import graft.functions.Exact.round6

  test("round6 is deterministic on half-boundary doubles (cross-engine bug)") {
    // 0.49093749999999997 * 1e6 rounds to exactly 490937.5 in double —
    // BigDecimal-style rounding says 0.490937, scaled-floor says 0.490938;
    // what matters is that we pick ONE rule expressible identically in SQL
    val df = Seq(0.49093749999999997, 0.0625, -0.3, 1.0).toDF("x")
    val out = df.select(round6($"x")).as[Double].collect().toSeq
    assert(out == Seq(0.490938, 0.0625, -0.3, 1.0))
  }
}
