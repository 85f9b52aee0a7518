package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomJoin
import graft.functions.BloomContains

/** Bloom semi-/anti-join reduction: the filter moves BYTES, never
  * results — every spec here holds at ANY (mBits, k) because an exact
  * join re-checks (semi) or the no-false-negative guarantee bypasses
  * (anti). Collision stress runs at mBits=64 (every key collides with
  * something) to prove the exactness claim where the filter is at its
  * worst. */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private def probe = Seq(
    (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
    (6L, "f"), (7L, "g"), (8L, "h")).toDF("k", "v")
  private def build = Seq(2L, 3L, 5L, 7L).toDF("bk")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("semi join equals the plain left_semi at default sizing") {
    val expected = rows(probe.join(build, col("k") === col("bk"), "left_semi"))
    assert(rows(BloomJoin.semiJoin(probe, "k", build, "bk")) == expected)
    assert(expected == Set((2L, "b"), (3L, "c"), (5L, "e"), (7L, "g")))
  }

  test("anti join equals the plain left_anti at default sizing") {
    val expected = rows(probe.join(build, col("k") === col("bk"), "left_anti"))
    assert(rows(BloomJoin.antiJoin(probe, "k", build, "bk")) == expected)
    assert(expected == Set((1L, "a"), (4L, "d"), (6L, "f"), (8L, "h")))
  }

  test("collision stress: tiny filter (m=64, k=2) still exact for both joins") {
    val expSemi = rows(probe.join(build, col("k") === col("bk"), "left_semi"))
    val expAnti = rows(probe.join(build, col("k") === col("bk"), "left_anti"))
    assert(rows(BloomJoin.semiJoin(probe, "k", build, "bk", mBits = 64, k = 2)) == expSemi)
    assert(rows(BloomJoin.antiJoin(probe, "k", build, "bk", mBits = 64, k = 2)) == expAnti)
  }

  test("no false negatives: every build key passes its own filter") {
    val bits = BloomJoin.buildBits(build, col("bk"), mBits = 1 << 12, k = 4)
    val passed = build.where(BloomJoin.mightContain(bits, col("bk"), 4)).count()
    assert(passed == build.count())
  }

  test("prefilter selectivity: absent keys mostly rejected at sane sizing") {
    // 4 keys in 2^20 bits, k=4 — fp rate is astronomically small, so
    // 1000 absent keys should essentially all be rejected map-side
    val bits = BloomJoin.buildBits(build, col("bk"), mBits = 1 << 20, k = 4)
    val absent = spark.range(1000L, 2000L).select(col("id").as("k"))
    val falsePos = absent.where(BloomJoin.mightContain(bits, col("k"), 4)).count()
    assert(falsePos <= 2, s"fp=$falsePos out of 1000 at 4 keys / 2^20 bits")
  }

  test("empty build side: semi empty, anti keeps everything") {
    val none = Seq.empty[Long].toDF("bk")
    assert(BloomJoin.semiJoin(probe, "k", none, "bk").count() == 0L)
    assert(rows(BloomJoin.antiJoin(probe, "k", none, "bk")) == rows(probe))
  }

  test("null probe keys follow left_semi/left_anti null semantics") {
    val withNull = probe.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "z")).toDF("k", "v")
        .select(col("k").cast("long").as("k"), col("v")))
    val expSemi = withNull.join(build, col("k") === col("bk"), "left_semi")
      .select("v").as[String].collect().toSet
    val expAnti = withNull.join(build, col("k") === col("bk"), "left_anti")
      .select("v").as[String].collect().toSet
    assert(BloomJoin.semiJoin(withNull, "k", build, "bk")
      .select("v").as[String].collect().toSet == expSemi)
    assert(BloomJoin.antiJoin(withNull, "k", build, "bk")
      .select("v").as[String].collect().toSet == expAnti)
    assert(expAnti.contains("z") && !expSemi.contains("z"))
  }

  test("probe is map-only ahead of the join: no extra shuffle from the filter") {
    // the bloom prefilter must appear as a plain Filter over the scan —
    // no exchange, no broadcast join introduced by the prefilter itself
    // (a parquet-backed probe: local relations fold the filter away)
    val bits = BloomJoin.buildBits(build, col("bk"), 1 << 12, 4)
    val pre = Tables.lineitem(spark, sfDir)
      .where(BloomJoin.mightContain(bits, col("l_orderkey"), 4))
    val plan = pre.opPlanString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("bloom_contains"), plan)
    assert(plan.contains("*(1) Filter"), plan) // inside whole-stage codegen
  }

  test("sizing contract: mBits must be a positive multiple of 64, k in [1,16]") {
    intercept[IllegalArgumentException] {
      BloomJoin.buildBits(build, col("bk"), mBits = 100, k = 4)
    }
    intercept[IllegalArgumentException] {
      BloomJoin.buildBits(build, col("bk"), mBits = 64, k = 0)
    }
  }

  test("bloom MV: folded word deltas are bit-identical to the one-pass build") {
    val cat = new graft.sources.Catalog(spark, sfDir,
      Some(tempDir("graft-bloom").toString))
    val keys = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val m = 1 << 14
    cat.refreshBloomMv("b",
      BloomJoin.wordDelta(keys.where(col("l_orderkey") % 2 === 0),
        col("l_orderkey"), m, 4), Some(0L))
    cat.refreshBloomMv("b",
      BloomJoin.wordDelta(keys.where(col("l_orderkey") % 2 =!= 0),
        col("l_orderkey"), m, 4), Some(1L))
    val folded = cat.bloomMvBits("b", m).toSeq
    assert(folded == BloomJoin.buildBits(keys, col("l_orderkey"), m, 4).toSeq)
    // a retried batch id no-ops even with a different delta
    cat.refreshBloomMv("b",
      BloomJoin.wordDelta(spark.range(5000L, 6000L).select(col("id")),
        col("id"), m, 4), Some(1L))
    assert(cat.bloomMvBits("b", m).toSeq == folded)
  }

  test("probe kernel: bit set iff inserted positions all set (double hashing)") {
    // hand-built bitset: insert h1=5, h2=3, k=3 over 128 bits →
    // positions 5, 8, 11
    val bits = new Array[Long](2)
    Seq(5L, 8L, 11L).foreach(p => bits((p >>> 6).toInt) |= (1L << (p & 63L)))
    assert(BloomContains.probe(bits, 128L, 3, 5L, 3L))
    assert(!BloomContains.probe(bits, 128L, 4, 5L, 3L)) // 4th probe (pos 14) unset
    assert(!BloomContains.probe(bits, 128L, 1, 6L, 3L)) // pos 6 unset
  }
}
