package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog
import graft.operators.Similarity

/** Round-10 operators: SCD2 history from the CDC log, and the
  * rank-aware nDCG card for the ANN ladder. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def hist(changes: org.apache.spark.sql.DataFrame) =
    Catalog.scd2History(changes, "k", "seq", "op")
      .select(col("k"), col("v"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .collect().map(r => (r.getString(0), r.get(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3), r.getBoolean(4))).toSet

  test("upsert chain: each version closed by the next, last current") {
    val ch = Seq(
      ("a", 10L, 1L, "u"), ("a", 20L, 5L, "u"), ("a", 30L, 9L, "u"))
      .toDF("k", "v", "seq", "op")
    assert(hist(ch) == Set(
      ("a", 10L, 1L, 5L, false),
      ("a", 20L, 5L, 9L, false),
      ("a", 30L, 9L, null, true)))
  }

  test("tombstone closes history without becoming a version") {
    val ch = Seq(
      ("a", Some(10L), 1L, "u"), ("a", None: Option[Long], 3L, "d"),
      ("b", Some(7L), 2L, "u"))
      .toDF("k", "v", "seq", "op")
    assert(hist(ch) == Set(
      ("a", 10L, 1L, 3L, false), // closed by the delete, no current 'a'
      ("b", 7L, 2L, null, true)))
  }

  test("re-creation after delete opens a fresh current version") {
    val ch = Seq(
      ("a", Some(1L), 1L, "u"), ("a", None: Option[Long], 2L, "d"),
      ("a", Some(3L), 4L, "u"))
      .toDF("k", "v", "seq", "op")
    assert(hist(ch) == Set(
      ("a", 1L, 1L, 2L, false),
      ("a", 3L, 4L, null, true)))
  }

  test("current rows reproduce applyCdc's state") {
    val base = Seq(("a", 0L), ("b", 0L), ("c", 0L)).toDF("k", "v")
    val ch = Seq(
      ("a", Some(10L), 1L, "u"), ("a", Some(11L), 2L, "u"),
      ("b", None: Option[Long], 1L, "d"),
      ("d", Some(9L), 1L, "u"))
      .toDF("k", "v", "seq", "op")
    val current = Catalog.scd2History(ch, "k", "seq", "op")
      .where(col("is_current")).select(col("k"), col("v"))
    val folded = Catalog.applyCdc(base, ch, "k", "seq", "op")
      .join(ch.select(col("k")).distinct(), Seq("k")) // changed keys only
    assert(current.collect().toSet == folded.collect().toSet)
  }
}

class NdcgSpec extends SparkSpec {

  test("nDCG matches a pure-Scala replay of the two searches") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, 5, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val approx = Similarity.ivfAnn(emb, 5, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val lcm = (2 to k + 1).foldLeft(1L) { (a, i) =>
      val g = BigInt(a).gcd(BigInt(i)).toLong; a / g * i }
    val dcg = approx.groupBy(_._1).view.mapValues(_.map { case (q, n, p) =>
      exact.get((q, n)).fold(0L)(er => (k + 1L - er) * (lcm / (p + 1))) }.sum)
    val idcg = exact.toSeq.groupBy(_._1._1).view.mapValues(_.map {
      case ((_, _), er) => (k + 1L - er) * (lcm / (er + 1)) }.sum)
    val got = Similarity.ndcgCard(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == idcg.keySet)
    got.foreach { case (q, (d, i, nd)) =>
      assert(d == dcg.getOrElse(q, 0L), s"dcg q$q")
      assert(i == idcg(q), s"idcg q$q")
      assert(nd == math.floor(d.toDouble / i.toDouble * 1e6 + 0.5) / 1e6)
      assert(nd >= 0.0 && nd <= 1.0)
    }
  }

  test("perfect ranking scores 1.0 (ndcg of exact vs itself)") {
    // one cell, fully probed: the IVF candidate set IS the corpus, so
    // the approximate ranking equals brute force and nDCG is exactly 1
    import spark.implicits._
    val vecs = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(j => if (j == (i % 4).toInt) 1.0f else 0.001f * i)))
      .toDF("vec_id", "embedding")
    val card = Similarity.ndcgCard(vecs, maxQueryId = 2, k = 3,
      nCells = 1, nProbe = 1).collect()
    assert(card.length == 2)
    card.foreach { r =>
      assert(r.getLong(1) == r.getLong(2)) // dcg == idcg, term by term
      assert(r.getDouble(3) == 1.0)
    }
  }
}

class AnnUpsertSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-annup").toString))

  private def neighborSets(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("upserted index == monolithic rebuild against the same centroids") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    cat.saveAnnIndex("idx", Similarity.buildIvfIndex(base))
    cat.upsertAnnIndex("idx", delta, batchId = 1L)
    val upserted = cat.loadAnnIndex("idx")
    val queries = upserted.assignments.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // the rebuild: ALL vectors assigned against the SAME frozen centroids
    val rebuilt = Similarity.IvfIndex(
      Similarity.assignNew(emb, upserted.centroids), upserted.centroids)
    assert(neighborSets(Similarity.ivfSearch(upserted, queries, 10)) ==
      neighborSets(Similarity.ivfSearch(rebuilt, queries, 10)))
    // and the segment really carries the delta
    assert(upserted.assignments.count() == emb.count())
  }

  test("retried batch id is a no-op; torn segment is invisible") {
    val emb = Tables.embeddings(spark, sfDir)
    val cat = freshCat()
    cat.saveAnnIndex("idx",
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 5 =!= 0)))
    cat.upsertAnnIndex("idx", emb.where(col("vec_id") % 5 === 0), 1L)
    val n1 = cat.loadAnnIndex("idx").assignments.count()
    // retry of batch 1 with CORRUPT contents: the committed segment wins
    cat.upsertAnnIndex("idx", emb.limit(3), 1L)
    assert(cat.loadAnnIndex("idx").assignments.count() == n1)
    // torn segment: a directory without _SUCCESS never serves
    val torn = new java.io.File(
      s"${cat.derivedDir}/idx/assignments_seg_b9")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-junk.parquet"), "not parquet")
    assert(cat.loadAnnIndex("idx").assignments.count() == n1)
  }

  test("upsert against a missing index refuses") {
    val cat = freshCat()
    intercept[IllegalArgumentException] {
      cat.upsertAnnIndex("nope", Tables.embeddings(spark, sfDir), 1L)
    }
  }
}

class KAnonymitySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("planted classes: counts, k-violations, and the l floor by hand") {
    // class A (web, en, bucket 0): 6 rows, sensitive values both ways -> l=2
    // class B (web, de, bucket 0): 2 rows (< k), all without '@'   -> l=1
    // class C (lab, en, bucket 1): 3 rows (< k), all with '@'      -> l=1
    val docs = (
      (1 to 6).map(i => (i.toLong, if (i % 2 == 0) "a@b c" else "plain",
        "en", "web", 100L)) ++
      (7 to 8).map(i => (i.toLong, "plain", "de", "web", 100L)) ++
      (9 to 11).map(i => (i.toLong, "x@y", "en", "lab", 600L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = operators.TextAnalysis.kAnonymityCard(docs, k = 5).head()
    assert(r.getAs[Long]("n_rows") == 11L)
    assert(r.getAs[Long]("n_classes") == 3L)
    assert(r.getAs[Long]("min_class_size") == 2L)
    assert(r.getAs[Long]("rows_below_k") == 5L)    // B(2) + C(3)
    assert(r.getAs[Long]("classes_below_k") == 2L)
    assert(r.getAs[Double]("anonymous_frac") == math.floor(6.0 / 11 * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Long]("min_l") == 1L)
  }

  test("fully anonymous corpus: zero violations, frac 1.0") {
    val docs = (1 to 10).map(i => (i.toLong, "t", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = operators.TextAnalysis.kAnonymityCard(docs, k = 5).head()
    assert(r.getAs[Long]("rows_below_k") == 0L)
    assert(r.getAs[Double]("anonymous_frac") == 1.0)
  }
}

class CmsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("CMS never underestimates and is exact absent collisions") {
    import spark.implicits._
    // 3 keys with known counts in a wide sketch (collisions vanishingly
    // unlikely at 3 keys x 4096 buckets; est == exact then)
    val df = (Seq.fill(7)(1L) ++ Seq.fill(3)(2L) ++ Seq.fill(11)(3L))
      .toDF("l_partkey")
    val r = operators.Analytics.cmsFrequency(df, d = 4, w = 4096, maxKey = 4)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((7L, 7L)))
    assert(r(2L) == ((3L, 3L)))
    assert(r(3L) == ((11L, 11L)))
    assert(r(4L)._2 == 0L) // absent key: exact 0, est >= 0
  }

  test("one-sided error on real data: est >= exact for every probe") {
    val rows = operators.Analytics
      .cmsFrequency(Tables.lineitem(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"underestimate at ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
  }

  test("the sketch is d*w-bounded: tiny w forces visible overcounts") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("l_partkey") // 2000 distinct keys
    val rows = operators.Analytics
      .cmsFrequency(df, d = 2, w = 8, maxKey = 5).collect()
    // every counter absorbs ~250 keys; est must wildly exceed exact=1
    rows.foreach(r => assert(r.getLong(1) > r.getLong(2)))
  }
}

class TopPathsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def ev(rows: Seq[(Long, Long, String, Long)]) =
    rows.toDF("event_id", "user_id", "event_type", "tsu")
      .withColumn("ts", timestamp_micros(col("tsu")))

  test("sessions split on the gap; paths ordered and counted by hand") {
    val m = 60000000L // a minute in us
    val df = ev(Seq(
      // user 1, session 1: view > click   session 2 (gap > 30m): view
      (1L, 1L, "view", 0L), (2L, 1L, "click", m),
      (3L, 1L, "view", 200 * m),
      // user 2, one session: view > click
      (4L, 2L, "view", 0L), (5L, 2L, "click", 5 * m)))
    val got = operators.Events.topPaths(df).collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(("view>click", 2L), ("view", 1L)))
  }

  test("same-microsecond events order by event_id, not arrival luck") {
    val df = ev(Seq(
      (9L, 1L, "b_second", 0L), (4L, 1L, "a_first", 0L)))
    val got = operators.Events.topPaths(df).collect()
    // event_id 4 < 9 pins a_first before b_second despite equal tsu
    assert(got.map(_.getString(0)).toList == List("a_first>b_second"))
  }

  test("top-k plans as a bounded heap, not a global sort") {
    val plan = operators.Events.topPaths(Tables.events(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}

class Round10ShellSpec extends SparkSpec {
  test("round-10 shell verbs execute against a registered data dir") {
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-sh10").toString))
    assert(Shell.execute("run d_kanon", spark, cat, sfDir))
    assert(Shell.execute("run e_paths", spark, cat, sfDir))
    assert(Shell.execute("run s_ndcg", spark, cat, sfDir))
    assert(Shell.execute("doctor SELECT 1 AS one", spark, cat, sfDir))
    // the SQL catch-all reaches the operator TVFs, literal arguments too
    assert(Shell.execute(
      s"SELECT count(*) AS n FROM graft_kanon('$sfDir')", spark, cat, sfDir))
    assert(Shell.execute(
      s"SELECT count(*) AS n FROM graft_kanon('$sfDir', 3)", spark, cat, sfDir))
  }
}

class CmsStreamSpec extends SparkSpec {
  test("stream-folded CMS state is microbatch-boundary invariant") {
    val fine = streaming.EventStream
      .cmsMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 1)
      .collect().toSet
    val coarse = streaming.EventStream
      .cmsMaintenanceReplay(spark, sfDir, maxFilesPerTrigger = 9)
      .collect().toSet
    assert(fine == coarse)
    assert(fine.nonEmpty)
    // the one-sided CMS bound survives the streaming fold
    fine.foreach(r => assert(r.getLong(1) >= r.getLong(2)))
  }
}
