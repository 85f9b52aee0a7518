package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Analytics, Dedup, Similarity}

/** Hand-computed fixtures + empty-input coverage for the three
  * operators that shipped at the end of round 7 without spec rows:
  * `q_drawdown` (Analytics.maxDrawdown), `d_redundancy`
  * (Dedup.redundancy), `s_ann_recall` (Similarity.annRecall).
  */
class Round8OpsSpec extends SparkSpec {

  private def empty(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  // ---------------------------------------------------------------- drawdown

  test("maxDrawdown: running peak minus current, per customer, by hand") {
    import spark.implicits._
    // cust 1 in date order: 100, 50, 120, 30 → peaks 100,100,120,120 →
    // drawdowns 0, 50, 0, 90 → max 90, peak_value 120, n_orders 4;
    // cust 2 monotone up: 10, 20 → max_drawdown 0
    val orders = Seq(
      (1L, 11L, "2024-01-01", 100.0),
      (1L, 12L, "2024-01-02", 50.0),
      (1L, 13L, "2024-01-03", 120.0),
      (1L, 14L, "2024-01-04", 30.0),
      (2L, 21L, "2024-01-01", 10.0),
      (2L, 22L, "2024-01-02", 20.0))
      .toDF("o_custkey", "o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val got = Analytics.maxDrawdown(orders)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 4L, 120.0, 90.0), (2L, 2L, 20.0, 0.0)))
  }

  test("maxDrawdown: same-date ties resolve by order key") {
    import spark.implicits._
    // both orders on the same date: key order 31 (80) then 32 (30) →
    // peak at 32 is 80 → drawdown 50. If the tie ever flipped the
    // series would read 30, 80 → drawdown 0 — the assert pins the
    // (date µs, o_orderkey) total order the scaladoc promises.
    val orders = Seq(
      (3L, 31L, "2024-02-01", 80.0),
      (3L, 32L, "2024-02-01", 30.0))
      .toDF("o_custkey", "o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val got = Analytics.maxDrawdown(orders).collect()
    assert(got.length == 1 && got(0).getDouble(3) == 50.0)
  }

  test("maxDrawdown: half-cent prices stay exact integer cents") {
    import spark.implicits._
    // the doubles both engines actually hold: 10.005 is
    // 10.005000000000000426 → ×100 rounds UP to 1001 cents, while
    // 9.995 is 9.994999999999999218 → rounds DOWN to 999 — so the
    // drawdown is exactly 0.02, deterministically, in Spark AND the
    // DuckDB oracle (identical IEEE input, identical integer cents);
    // a float-sum formulation would wobble at this boundary
    val orders = Seq(
      (4L, 41L, "2024-03-01", 10.005),
      (4L, 42L, "2024-03-02", 9.995))
      .toDF("o_custkey", "o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val got = Analytics.maxDrawdown(orders).collect()
    assert(got.length == 1 && got(0).getDouble(3) == 0.02)
  }

  // --------------------------------------------------------------- redundancy

  test("redundancy: within-doc vs cross-doc rates, by hand") {
    import spark.implicits._
    // source a: doc 1 "t1 t2 t3 t4" → shingles {t1t2t3, t2t3t4};
    //           doc 2 "t1 t2 t3"    → {t1t2t3}
    //   n_occ=3, per-doc grain=3, distinct=2 → dup=1/3, cross=1/3
    // source b: doc 3 "u1 u2 u3 u1 u2 u3 u1" → 5 shingles, 3 distinct,
    //   doc grain 3 → dup=2/5, cross=0 (all repetition is within-doc)
    // source c: doc 4 "v1 v2" → too short → zero counts, NULL rates
    val docs = Seq(
      (1L, "a", "t1 t2 t3 t4"),
      (2L, "a", "t1 t2 t3"),
      (3L, "b", "u1 u2 u3 u1 u2 u3 u1"),
      (4L, "c", "v1 v2"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.redundancy(docs, 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("a", 2L, 3L, 3L, 2L, Some(1.0 / 3.0), Some(1.0 / 3.0)),
      ("b", 1L, 5L, 3L, 3L, Some(2.0 / 5.0), Some(0.0)),
      ("c", 1L, 0L, 0L, 0L, None, None)))
  }

  // --------------------------------------------------------------- ann recall

  test("annRecall: probing every cell reproduces brute force exactly") {
    import spark.implicits._
    // 12 unit-ish 2-d vectors in 3 angular clumps; with nProbe == nCells
    // the IVF candidate set IS the exhaustive set, and both pipelines
    // share topKPerQuery's (cos desc, vec_id) tie-break — so the probed
    // top-k must match brute force row for row (recall exactly 1.0)
    val vecs = (0 until 12).map { i =>
      val theta = (i % 3) * 1.0 + (i / 3) * 0.05
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat), (i % 3))
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, 3, 4)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val probedAll = Similarity.ivfAnn(vecs, 3, 4, nCells = 4, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val misses = probedAll.join(exact, Seq("query_id", "neighbor_id"), "left")
      .where(col("hit").isNull).count()
    assert(misses == 0L && probedAll.count() == exact.count())
  }

  test("annRecall: recall floor on the sf0.001 corpus is gate-checked") {
    // The driver oracle replays this card end-to-end in SQL, so the
    // VALUES are exactness-checked there; this spec pins the LEVEL —
    // measured macro recall 24/50 = 0.48 at (nCells=16, nProbe=4,
    // k=10) on sf0.001. A params/corpus drift that costs recall drops
    // below the 0.40 floor and fails here loudly instead of silently
    // degrading every consumer of the index.
    val card = Similarity.annRecall(
      graft.Tables.embeddings(spark, sfDir)).collect()
    assert(card.length == 5, s"expected 5 query rows, got ${card.length}")
    assert(card.forall(_.getLong(2) == 10L), "n_true must be k = 10")
    val macroRecall =
      card.map(_.getLong(1)).sum.toDouble / card.map(_.getLong(2)).sum
    assert(macroRecall >= 0.40,
      f"ANN recall degraded: macro recall $macroRecall%.3f < 0.40 floor")
    card.foreach { r =>
      assert(r.getDouble(3) == r.getLong(1).toDouble / r.getLong(2),
        "recall must be the exact n_hits/n_true division")
    }
  }

  // --------------------------------------------------------- cdc seq ordering

  test("refreshCdcMv: struct (us, eid) sequence pins same-microsecond ties") {
    import spark.implicits._
    val root = tempDir("graft-cdctie").toString
    val cat = new graft.sources.Catalog(spark, root)
    def change(us: Long, eid: Long, v: Long) =
      Seq((1L, us, eid, "u", v)).toDF("user_id", "us", "eid", "op", "v")
        .select(col("user_id"), struct(col("us"), col("eid")).as("seq"),
          col("op"), col("v"))
    // two changes in the SAME microsecond: eid 7 must beat eid 3
    // regardless of arrival order — the raw-timestamp sequence the
    // replay used before had no defined winner here
    cat.refreshCdcMv("cdc", change(100L, 7L, 70L), "user_id", "seq", "op")
    cat.refreshCdcMv("cdc", change(100L, 3L, 30L), "user_id", "seq", "op")
    val got = cat.cdcState("cdc", "op").select("v").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(70L))
    // and a later microsecond still beats any eid
    cat.refreshCdcMv("cdc", change(101L, 1L, 11L), "user_id", "seq", "op")
    val got2 = cat.cdcState("cdc", "op").select("v").collect()
    assert(got2.map(_.getLong(0)).toSeq == Seq(11L))
  }

  // ------------------------------------------------------------- empty inputs

  test("round-8 regularized operators tolerate zero-row inputs") {
    val orders = empty("o_custkey" -> LongType, "o_orderkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType)
    val docs = empty("doc_id" -> LongType, "text" -> StringType,
      "source" -> StringType)
    val embeddings = empty("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
    assert(Analytics.maxDrawdown(orders).count() == 0)
    assert(Dedup.redundancy(docs).count() == 0)
    assert(Similarity.annRecall(embeddings).count() == 0)
  }
}
