package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog

/** refreshKmvMv — the bounded-sketch MV rung: incremental refresh must
  * be INVISIBLE in the state (KMV merge is lossless for the k
  * smallest), exactly-once under batch-id retries, and bounded at ≤ k
  * rows per key regardless of history. */
class KmvMvSpec extends SparkSpec {

  private def freshCat(): Catalog = new Catalog(spark, sfDir,
    Some(tempDir("graft-kmvmv").toString))

  private def hashed = Tables.lineitem(spark, sfDir)
    .select(col("l_returnflag"),
      operators.TextAnalysis.portableHash60(col("l_partkey")).as("h"),
      col("l_orderkey"))

  test("batch-boundary invariance: 1 vs 3 vs 5 splits, identical state") {
    val k = 16
    def stateOf(nBatches: Int): Set[(String, Long)] = {
      val cat = freshCat()
      (0 until nBatches).foreach { b =>
        cat.refreshKmvMv("s", hashed
          .where(pmod(col("l_orderkey"), lit(nBatches)) === b),
          Seq("l_returnflag"), "h", k)
      }
      cat.loadDerived("s").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val one = stateOf(1)
    assert(stateOf(3) == one)
    assert(stateOf(5) == one)
  }

  test("refreshed estimate equals the from-scratch aggregate sketch") {
    val k = 16
    val cat = freshCat()
    (0 until 4).foreach { b =>
      cat.refreshKmvMv("s", hashed
        .where(pmod(col("l_orderkey"), lit(4)) === b),
        Seq("l_returnflag"), "h", k)
    }
    val mv = cat.kmvMvEstimate("s", Seq("l_returnflag"), k)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    import graft.functions.KmvSketch
    val scratch = hashed.groupBy(col("l_returnflag"))
      .agg(KmvSketch.kmv(col("h"), k).as("buf"))
      .select(col("l_returnflag"), KmvSketch.estimate(col("buf"), k).as("est"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(mv == scratch)
  }

  test("below-k key is exact; state stays bounded at ≤ k rows per key") {
    val k = 8
    val cat = freshCat()
    import spark.implicits._
    // key "small" has 3 distinct hashes, key "big" has 100
    val d1 = ((1 to 3).map(i => ("small", i.toLong * 7)) ++
      (1 to 60).map(i => ("big", i.toLong * 11))).toDF("g", "h")
    val d2 = ((1 to 3).map(i => ("small", i.toLong * 7)) ++ // re-seen
      (61 to 100).map(i => ("big", i.toLong * 11))).toDF("g", "h")
    cat.refreshKmvMv("s", d1, Seq("g"), "h", k)
    cat.refreshKmvMv("s", d2, Seq("g"), "h", k)
    val state = cat.loadDerived("s").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(state.count(_._1 == "small") == 3)
    assert(state.count(_._1 == "big") == k)
    assert(state.filter(_._1 == "big").map(_._2).sorted ==
      (1 to k).map(_.toLong * 11).toList)
    val est = cat.kmvMvEstimate("s", Seq("g"), k).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(est("small").getDouble(2) == 3.0) // exact below k
    assert(est("small").isNullAt(1)) // no kth hash below k
    assert(est("big").getLong(1) == k * 11L)
  }

  test("exactly-once: a retried batch id is a no-op") {
    val k = 8
    val cat = freshCat()
    import spark.implicits._
    val d1 = (1 to 5).map(i => ("g", i.toLong)).toDF("g", "h")
    val d2 = (6 to 9).map(i => ("g", i.toLong)).toDF("g", "h")
    cat.refreshKmvMv("s", d1, Seq("g"), "h", k, batchId = Some(0L))
    cat.refreshKmvMv("s", d2, Seq("g"), "h", k, batchId = Some(1L))
    val before = cat.loadDerived("s").collect().map(_.getLong(1)).sorted
    // retry of batch 1 with DIFFERENT (corrupt) contents: must not apply
    cat.refreshKmvMv("s", (100 to 110).map(i => ("g", i.toLong)).toDF("g", "h"),
      Seq("g"), "h", k, batchId = Some(1L))
    val after = cat.loadDerived("s").collect().map(_.getLong(1)).sorted
    assert(after.toSeq == before.toSeq)
    assert(after.toSeq == (1L to 8L))
  }
}
