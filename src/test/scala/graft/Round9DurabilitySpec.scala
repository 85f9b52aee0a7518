package graft

/** Durability of the append-only join MV: exactly-once appends, torn
  * segments that never serve, compaction and maintenance that keep the
  * rows, and a fresh Catalog that resumes from disk alone. Crash points
  * of every durable verb are enumerated in [[CrashPointSpec]].
  */
class Round9DurabilitySpec extends SparkSpec {

  private def p(s: String) = java.nio.file.Paths.get(s)

  /** The segment directories of a join MV; every commit deletes the
    * ones its manifest no longer lists. */
  private def segments(cat: graft.sources.Catalog, name: String): Seq[String] =
    new java.io.File(s"${cat.derivedDir}/$name").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_"))
      .map(_.getName).toSeq.sorted

  // ------------------------------------------------- append-only join MV

  test("appendJoinMv: a retried batch id appends nothing (exactly-once)") {
    import spark.implicits._
    val root = tempDir("graft-jmv").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    val d1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    assert(cat.appendJoinMv("jv", d1, dim, Seq("k"), Some(1L)).count() == 2)
    // the at-least-once retry: same batch id, same (or corrupt) delta
    assert(cat.appendJoinMv("jv", d1, dim, Seq("k"), Some(1L)).count() == 2)
    // a NEW batch appends; history is untouched (no rewrite)
    val got = cat.appendJoinMv("jv", Seq((2L, 30L)).toDF("k", "v"),
        dim, Seq("k"), Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.toSeq == Seq((1L, 10L, "x"), (2L, 20L, "y"), (2L, 30L, "y")))
    assert(segments(cat, "jv") == Seq("seg_b1", "seg_b2"))
  }

  test("appendJoinMv: a torn segment is invisible and the retry heals it") {
    import spark.implicits._
    val root = tempDir("graft-jmvtorn").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x")).toDF("k", "name")
    cat.appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    // crash mid-write of batch 2: the segment dir exists, no manifest
    // lists it
    val torn = p(s"${cat.derivedDir}/jv/seg_b2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk.parquet"), "garbage")
    assert(cat.readJoinMv("jv").count() == 1, "torn segment served")
    // the retry overwrites the debris and commits
    val got = cat.appendJoinMv("jv", Seq((1L, 99L)).toDF("k", "v"),
      dim, Seq("k"), Some(2L))
    assert(got.count() == 2)
    assert(segments(cat, "jv") == Seq("seg_b1", "seg_b2"))
  }

  test("compactJoinMv: folds segments, keeps rows, preserves latest-batch no-op") {
    import spark.implicits._
    val root = tempDir("graft-jmvcomp").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    cat.appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    cat.appendJoinMv("jv", Seq((2L, 20L)).toDF("k", "v"), dim, Seq("k"), Some(2L))
    cat.appendJoinMv("jv", Seq((1L, 30L)).toDF("k", "v"), dim, Seq("k"), Some(3L))
    val before = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(cat.compactJoinMv("jv").count() == 3)
    assert(segments(cat, "jv").size == 1, "not folded to one segment")
    val after = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before, "compaction changed the view contents")
    // a replay of any folded batch still no-ops
    Seq(1L, 3L).foreach(b => assert(cat.appendJoinMv("jv",
      Seq((9L, 99L)).toDF("k", "v"), dim, Seq("k"), Some(b)).count() == 3))
    // and the next real batch appends normally
    assert(cat.appendJoinMv("jv", Seq((2L, 40L)).toDF("k", "v"),
      dim, Seq("k"), Some(4L)).count() == 4)
  }

  test("maintain folds a join MV at its segment threshold, not below it") {
    import spark.implicits._
    val root = tempDir("graft-jmvmaint").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    (1L to 3L).foreach(b =>
      cat.appendJoinMv("jv", Seq((b % 2 + 1, b * 10)).toDF("k", "v"), dim, Seq("k"), Some(b)))
    val before = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(cat.maintain(threshold = 4).isEmpty)
    assert(segments(cat, "jv").size == 3)
    assert(cat.maintain(threshold = 3) == Seq("jv"))
    assert(segments(cat, "jv").size == 1)
    val after = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before)
  }

  test("appendJoinMv: a fresh Catalog instance resumes from disk alone") {
    import spark.implicits._
    val root = tempDir("graft-jmvres").toString
    val dim = Seq((1L, "x")).toDF("k", "name")
    new graft.sources.Catalog(spark, root)
      .appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    val fresh = new graft.sources.Catalog(spark, root)
    assert(fresh.readJoinMv("jv").count() == 1)
    assert(fresh.appendJoinMv("jv", Seq((1L, 20L)).toDF("k", "v"),
      dim, Seq("k"), Some(2L)).count() == 2)
  }
}
