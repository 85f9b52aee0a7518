package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog
import graft.operators.Similarity

/** Round-11: incremental upsert for the QUANTIZED ANN index. The
  * frozen-quantizer contract — centroids AND int8 scales fixed at
  * build time — makes delta encoding a pure per-vector
  * function, so the segmented index must EQUAL a monolithic
  * encode-everything pass against the same artifacts, batch boundaries
  * invisible. This closes the 100 TB argument the float-only upsert
  * left open: the index small enough to still fit now also stays
  * fresh. */
class QuantUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-qup").toString))

  private def neighborSets(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("int8: upserted == monolithic encode-all against the frozen quantizer") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    cat.saveAnnIndexQ("qidx",
      Similarity.buildIvfIndexQ(emb.where(col("vec_id") % 5 =!= 0)))
    cat.upsertAnnIndexQ("qidx", emb.where(col("vec_id") % 5 === 0), 1L)
    val up = cat.loadAnnIndexQ("qidx")
    // the rebuild: ALL vectors coded against the SAME frozen artifacts
    val rebuilt = Similarity.IvfQIndex(
      Similarity.assignNewQ(emb, up.centroids, up.scales),
      up.centroids, up.scales)
    val queries = Similarity.queryVectors(emb, 5)
    assert(neighborSets(Similarity.ivfSearchQ(up, queries, 10)) ==
      neighborSets(Similarity.ivfSearchQ(rebuilt, queries, 10)))
    assert(up.assignments.count() == emb.count())
  }

  test("int8: a delta residual beyond the frozen scale clips, not wraps") {
    def vec(x: Float) = Array.tabulate(64)(i => if (i == 0) x else 0.0f)
    // base: a tight cluster on coordinate 0 -> tiny frozen scale
    val base = (0 until 8).map(i => (i.toLong, vec(1.0f + i * 0.01f)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndexQ(base, nCells = 1)
    // delta: residual ~49 where the frozen scale is ~0.0003 — the raw
    // code would be ~170000; a byte cast alone would WRAP it
    val delta = Seq((100L, vec(50.0f))).toDF("vec_id", "embedding")
    val row = Similarity.assignNewQ(delta, idx.centroids, idx.scales)
      .select(element_at(col("q"), 1).cast("int")).head()
    assert(row.getInt(0) == 127)
  }

  test("quantized retry is a no-op; torn segment is invisible") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    cat.saveAnnIndexQ("qidx",
      Similarity.buildIvfIndexQ(emb.where(col("vec_id") % 5 =!= 0)))
    cat.upsertAnnIndexQ("qidx", emb.where(col("vec_id") % 5 === 0), 1L)
    val n1 = cat.loadAnnIndexQ("qidx").assignments.count()
    // retry of batch 1 with CORRUPT contents: the committed segment wins
    cat.upsertAnnIndexQ("qidx", emb.limit(3), 1L)
    assert(cat.loadAnnIndexQ("qidx").assignments.count() == n1)
    // torn segment: a directory without _SUCCESS never serves
    val torn = new java.io.File(s"${cat.derivedDir}/qidx/assignments_seg_b9")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-junk.parquet"), "not parquet")
    assert(cat.loadAnnIndexQ("qidx").assignments.count() == n1)
  }

  test("upsert against a missing quantized index refuses") {
    val cat = freshCat()
    intercept[IllegalArgumentException] {
      cat.upsertAnnIndexQ("nope", Tables.embeddings(spark, sfDir), 1L)
    }
  }

  test("disjointness check refuses a delta of already-indexed ids") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    val base = emb.where(col("vec_id") % 5 =!= 0)
    cat.saveAnnIndexQ("qidx", Similarity.buildIvfIndexQ(base))
    // re-upserting BASE rows under a fresh batch id would duplicate
    // index entries — check=true turns the contract into a refusal
    intercept[IllegalArgumentException] {
      cat.upsertAnnIndexQ("qidx", base.limit(5), 2L, check = true)
    }
    // a genuinely new delta passes the same check
    cat.upsertAnnIndexQ("qidx", emb.where(col("vec_id") % 5 === 0), 3L,
      check = true)
    assert(cat.loadAnnIndexQ("qidx").assignments.count() == emb.count())
  }
}

/** Round-11: STREAMING SCD2 — version history maintained append-only
  * (closed versions as immutable segments, open versions in tmp-swap
  * state) must equal the batch lead() over the whole ordered change
  * log at any batch split, with the MV family's exactly-once retry
  * semantics. */
/** Power-iteration PCA: on rank-1 data the top direction is known in
  * closed form, and the returned loadings are a unit vector. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("rank-1 corpus recovers its generating direction and energy") {
    // every vector is a multiple of (0.6, 0.8): the top eigenvector is
    // exactly that axis, lambda = sum of squared norms = 150
    val emb = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(6.0f, 8.0f)), (3L, Seq(-3.0f, -4.0f)))
      .toDF("vec_id", "embedding")
    val card = graft.operators.Similarity.pcaTopComponent(emb)
      .orderBy("pos").collect()
    val loadings = card.map(_.getDouble(1))
    val lambda = card.head.getDouble(2)
    assert(math.abs(math.abs(loadings(0)) - 0.6) < 1e-4, loadings.toSeq.toString)
    assert(math.abs(math.abs(loadings(1)) - 0.8) < 1e-4)
    assert(loadings(0).sign == loadings(1).sign) // same ray
    assert(math.abs(lambda - 150.0) < 1e-3, s"lambda=$lambda")
    assert(card.head.getLong(3) == 3L)
  }

  test("loadings are a unit vector on the real corpus") {
    val card = graft.operators.Similarity
      .pcaTopComponent(Tables.embeddings(spark, sfDir)).collect()
    assert(card.length == 64)
    val norm2 = card.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"norm2=$norm2") // 6-dec rounding only
    assert(card.head.getDouble(2) > 0.0) // lambda positive
  }
}

class Scd2MvSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-scd2mv").toString))

  // an upsert chain, a tombstone, a re-creation, and two quiet keys
  private def changes = Seq(
    ("a", 10L, 1L, "u"), ("a", 20L, 4L, "u"), ("a", 0L, 6L, "d"),
    ("a", 30L, 8L, "u"),
    ("b", 7L, 2L, "u"), ("b", 9L, 5L, "u"),
    ("c", 1L, 3L, "u"))
    .toDF("k", "v", "seq", "op")

  private def histSet(df: org.apache.spark.sql.DataFrame) = df
    .select(col("k"), col("v"), col("valid_from"), col("valid_to"),
      col("is_current"))
    .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) null else r.getLong(3), r.getBoolean(4))).toSet

  test("ordered splits: 1 vs 2 vs 4 batches equal the batch scd2History") {
    val expected = histSet(Catalog.scd2History(changes, "k", "seq", "op"))
    def streamed(bounds: Seq[Long]) = {
      val cat = freshCat()
      val lo = Long.MinValue +: bounds
      val hi = bounds :+ Long.MaxValue
      lo.zip(hi).zipWithIndex.foreach { case ((l, h), i) =>
        cat.refreshScd2Mv("h",
          changes.where(col("seq") > l && col("seq") <= h),
          "k", "seq", "op", i.toLong)
      }
      histSet(cat.scd2MvHistory("h", "seq", "op"))
    }
    assert(expected.nonEmpty)
    assert(streamed(Nil) == expected)
    assert(streamed(Seq(4L)) == expected)
    assert(streamed(Seq(2L, 5L, 7L)) == expected)
  }

  test("tombstone closes without becoming a version; re-creation is current") {
    val cat = freshCat()
    cat.refreshScd2Mv("h", changes, "k", "seq", "op", 0L)
    val h = histSet(cat.scd2MvHistory("h", "seq", "op"))
    assert(h.contains(("a", 20L, 4L, 6L, false))) // closed by the delete
    assert(h.contains(("a", 30L, 8L, null, true))) // re-created, current
    assert(!h.exists(t => t._1 == "a" && t._3 == 6L)) // the 'd' is no version
  }

  test("retried batch id is a no-op") {
    val cat = freshCat()
    cat.refreshScd2Mv("h", changes.where(col("seq") <= 4), "k", "seq", "op", 0L)
    cat.refreshScd2Mv("h", changes.where(col("seq") > 4), "k", "seq", "op", 1L)
    val before = histSet(cat.scd2MvHistory("h", "seq", "op"))
    // corrupt retry of batch 1: the open state's marker wins outright
    cat.refreshScd2Mv("h", changes.limit(2), "k", "seq", "op", 1L)
    assert(histSet(cat.scd2MvHistory("h", "seq", "op")) == before)
  }

  test("replay history is invariant to microbatch granularity") {
    val fine = streaming.EventStream
      .scd2Replay(spark, sfDir, maxFilesPerTrigger = 1).collect().toSet
    val coarse = streaming.EventStream
      .scd2Replay(spark, sfDir, maxFilesPerTrigger = 9).collect().toSet
    assert(fine == coarse)
    assert(fine.nonEmpty)
  }
}

/** Round-11: the QUANTILE rung of the sketch-MV family — a bottom-k
  * (hash, value) sample per key maintained incrementally. The merge is
  * lossless (a hash's rank among distinct hashes only grows, and the
  * min-per-hash value of any surviving hash is already in state), so
  * refreshed state and estimates are IDENTICAL to from-scratch. */
class QsketchMvSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-qskmv").toString))

  private def priced = Tables.lineitem(spark, sfDir)
    .select(col("l_returnflag"),
      operators.TextAnalysis.portableHash60(col("l_orderkey"),
        lit("-"), col("l_linenumber")).as("h"),
      col("l_extendedprice").as("val"), col("l_orderkey"))

  test("batch-boundary invariance: 1 vs 3 vs 5 splits, identical state") {
    val k = 32
    def stateOf(nBatches: Int): Set[(String, Long, Double)] = {
      val cat = freshCat()
      (0 until nBatches).foreach { b =>
        cat.refreshQsketchMv("s",
          priced.where(pmod(col("l_orderkey"), lit(nBatches)) === b),
          Seq("l_returnflag"), "h", "val", k)
      }
      cat.loadDerived("s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val one = stateOf(1)
    assert(one.nonEmpty)
    assert(stateOf(3) == one)
    assert(stateOf(5) == one)
  }

  test("refreshed estimates equal the one-shot quantile sketch") {
    val cat = freshCat()
    (0 until 3).foreach { b =>
      cat.refreshQsketchMv("s",
        priced.where(pmod(col("l_orderkey"), lit(3)) === b),
        Seq("l_returnflag"), "h", "val", 256)
    }
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("l_returnflag"), col("n_sample"), col("p50_est"),
        col("p95_est"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(est(cat.qsketchMvEstimate("s", Seq("l_returnflag"), 256)) ==
      est(operators.Analytics.quantileSketch(
        Tables.lineitem(spark, sfDir), 256)))
  }

  test("state stays bounded at k rows per key; retry is a no-op") {
    val k = 8
    val cat = freshCat()
    cat.refreshQsketchMv("s", priced, Seq("l_returnflag"), "h", "val", k,
      batchId = Some(0L))
    val sizes = cat.loadDerived("s").groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n")).collect()
    sizes.foreach(r => assert(r.getLong(1) <= k))
    val before = cat.loadDerived("s").collect().toSet
    // corrupt retry of batch 0: the marker wins, nothing merges
    cat.refreshQsketchMv("s", priced.limit(3), Seq("l_returnflag"),
      "h", "val", k, batchId = Some(0L))
    assert(cat.loadDerived("s").collect().toSet == before)
  }
}

/** Round-11: segment COMPACTION for the upserted index and SCD2
  * families — the operational counterpart of O(Δ) maintenance. The
  * fold must be invisible to readers (same search results, same
  * history), published by one manifest, with the batch-id mark
  * surviving the fold. */
class SegmentCompactionSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-cmp").toString))

  private def neighborSets(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def segNames(cat: Catalog, name: String, prefix: String) =
    new java.io.File(s"${cat.derivedDir}/$name").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).toSeq.sorted

  test("ANN compaction: search identical, one tombstone segment, retry no-ops") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    cat.saveAnnIndex("idx",
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 5 === 1)))
    cat.upsertAnnIndex("idx", emb.where(col("vec_id") % 5 === 2), 1L)
    cat.upsertAnnIndex("idx", emb.where(col("vec_id") % 5 === 3), 2L)
    val idx0 = cat.loadAnnIndex("idx")
    // queries come from the embeddings table, not the index files: the
    // compaction swap replaces the index paths a lazy frame would hold
    val queries = Similarity.queryVectors(emb, 5)
    val before = neighborSets(Similarity.ivfSearch(idx0, queries, 10))
    val nBefore = idx0.assignments.count()
    cat.compactAnnIndex("idx")
    val idx1 = cat.loadAnnIndex("idx")
    assert(idx1.assignments.count() == nBefore)
    assert(neighborSets(Similarity.ivfSearch(idx1, queries, 10)) == before)
    // the folded segments are deleted once the compaction commits
    assert(segNames(cat, "idx", "assignments_seg_").isEmpty)
    // a replay of either folded batch is at or below the mark: no-op
    Seq(1L, 2L).foreach { b =>
      cat.upsertAnnIndex("idx", emb.limit(7), b)
      assert(cat.loadAnnIndex("idx").assignments.count() == nBefore)
    }
    // compacting a compacted index is a no-op... and idempotent
    cat.compactAnnIndex("idx")
    assert(cat.loadAnnIndex("idx").assignments.count() == nBefore)
  }

  test("quantized ANN compaction preserves the frozen quantizer parts") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    cat.saveAnnIndexQ("qidx",
      Similarity.buildIvfIndexQ(emb.where(col("vec_id") % 5 =!= 0)))
    cat.upsertAnnIndexQ("qidx", emb.where(col("vec_id") % 5 === 0), 1L)
    val queries = Similarity.queryVectors(emb, 5)
    val before = neighborSets(
      Similarity.ivfSearchQ(cat.loadAnnIndexQ("qidx"), queries, 10))
    val scalesBefore = cat.loadAnnIndexQ("qidx").scales.collect().toSet
    cat.compactAnnIndex("qidx")
    val after = cat.loadAnnIndexQ("qidx")
    assert(neighborSets(Similarity.ivfSearchQ(after, queries, 10)) == before)
    assert(after.scales.collect().toSet == scalesBefore)
  }

  test("SCD2 compaction: history identical, one segment, marker survives") {
    val ch = Seq(
      ("a", 10L, 1L, "u"), ("a", 20L, 4L, "u"), ("a", 0L, 6L, "d"),
      ("b", 7L, 2L, "u"), ("b", 9L, 5L, "u"), ("c", 1L, 3L, "u"))
      .toDF("k", "v", "seq", "op")
    val cat = freshCat()
    cat.refreshScd2Mv("h", ch.where(col("seq") <= 2), "k", "seq", "op", 0L)
    cat.refreshScd2Mv("h", ch.where(col("seq") > 2 && col("seq") <= 4),
      "k", "seq", "op", 1L)
    cat.refreshScd2Mv("h", ch.where(col("seq") > 4), "k", "seq", "op", 2L)
    val before = cat.scd2MvHistory("h", "seq", "op").collect().toSet
    assert(segNames(cat, "h", "closed_seg_").size == 3)
    cat.compactScd2("h")
    assert(segNames(cat, "h", "closed_").size == 1)
    assert(cat.scd2MvHistory("h", "seq", "op").collect().toSet == before)
    // the batch-id mark survived the fold: retry no-ops
    cat.refreshScd2Mv("h", ch.limit(2), "k", "seq", "op", 2L)
    assert(cat.scd2MvHistory("h", "seq", "op").collect().toSet == before)
    // nothing left to fold: second compaction is a no-op
    cat.compactScd2("h")
    assert(cat.scd2MvHistory("h", "seq", "op").collect().toSet == before)
  }

  test("graft_doctor TVF: lint from SQL, composable, empty when clean") {
    assert(spark.sql(
      "SELECT * FROM graft_doctor('SELECT 1 AS one')").isEmpty)
    spark.range(100000000L).toDF("x").createOrReplaceTempView("tvf_a")
    spark.range(100000000L).toDF("y").createOrReplaceTempView("tvf_b")
    val n = spark.sql(
      """SELECT count(*) AS n FROM
         graft_doctor('SELECT * FROM tvf_a CROSS JOIN tvf_b')
         WHERE severity = 'error'""").head().getLong(0)
    assert(n >= 1L)
  }
}

/** Round-11: the quantile sketch-MV run live — microbatch boundaries
  * must be invisible in the stream-folded estimates (lossless bottom-k
  * merge), and the folded state must equal the one-shot sketch. */
class QsketchStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("stream-folded quantile state is microbatch-boundary invariant") {
    val fine = streaming.EventStream
      .qsketchMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 1)
      .collect().toSet
    val coarse = streaming.EventStream
      .qsketchMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 9)
      .collect().toSet
    assert(fine == coarse)
    assert(fine.nonEmpty)
    // percentile sanity after the fold: p50 <= p95, sample bounded
    fine.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3))
      assert(r.getLong(1) <= 256L)
    }
  }
}
