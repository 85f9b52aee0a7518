package graft

/** Round-9 durability fixtures for the Catalog swap-recovery edges the
  * round-8 review surfaced: a torn-swap `.bak` must not resurrect
  * DROPPED state, [[graft.sources.Catalog.vacuumDerived]] must finish
  * recovery instead of stranding committed backups, and
  * `saveAnnIndex` must install through the same crash-recoverable
  * park-at-.bak shape as the MV paths.
  */
class Round9DurabilitySpec extends SparkSpec {

  private def p(s: String) = java.nio.file.Paths.get(s)

  test("dropDerived: removes the swap backup so dropped state stays dropped") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dropbak").toString
    val cat = new graft.sources.Catalog(spark, root)
    cat.refreshAggMv("mv", Seq(("a", 10L)).toDF("k", "n"), Seq("k"),
      batchId = Some(5L))
    // torn swap: committed state (with its batch-5 marker) parked at .bak
    java.nio.file.Files.move(p(s"${cat.derivedDir}/mv"),
      p(s"${cat.derivedDir}/mv.bak"))
    cat.dropDerived("mv") // live absent mid-tear; drop must still purge
    assert(!java.nio.file.Files.exists(p(s"${cat.derivedDir}/mv.bak")),
      "dropDerived left the .bak — the next read would resurrect dropped state")
    // a post-drop replay starts from scratch: batch 1 must APPLY (the
    // resurrected batch-5 marker would have made alreadyApplied skip it)
    val got = cat.refreshAggMv("mv", Seq(("a", 1L)).toDF("k", "n"), Seq("k"),
      batchId = Some(1L)).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 1L)))
  }

  test("vacuumDerived: restores a committed .bak, then sweeps debris") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vacbak").toString
    val cat = new graft.sources.Catalog(spark, root)
    cat.refreshAggMv("mv", Seq(("a", 10L)).toDF("k", "n"), Seq("k"))
    // torn swap: live renamed aside, a half-written tmp left behind
    java.nio.file.Files.move(p(s"${cat.derivedDir}/mv"),
      p(s"${cat.derivedDir}/mv.bak"))
    java.nio.file.Files.createDirectories(p(s"${cat.derivedDir}/mv.tmp"))
    assert(cat.vacuumDerived() >= 1) // the tmp at minimum
    assert(!java.nio.file.Files.exists(p(s"${cat.derivedDir}/mv.bak")))
    assert(!java.nio.file.Files.exists(p(s"${cat.derivedDir}/mv.tmp")))
    // the committed state survived the vacuum via restore, not deletion
    val got = cat.mvState("mv").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 10L)))
  }

  test("saveAnnIndex: a torn install self-heals like the MV paths") {
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val root = java.nio.file.Files.createTempDirectory("graft-annbak").toString
    val cat = new graft.sources.Catalog(spark, root)
    val built = graft.operators.Similarity.buildIvfIndex(emb, nCells = 4)
    cat.saveAnnIndex("idx", built)
    val want = cat.loadAnnIndex("idx").centroids.count()
    // simulate the crash window: committed centroids parked at .bak,
    // nothing installed — the OLD delete-then-rename shape left this
    // state permanently unreadable (loadAnnIndex require fails forever)
    java.nio.file.Files.move(p(s"${cat.derivedDir}/idx/centroids"),
      p(s"${cat.derivedDir}/idx/centroids.bak"))
    val recovered = cat.loadAnnIndex("idx") // first touch restores
    assert(recovered.centroids.count() == want)
    assert(!java.nio.file.Files.exists(
      p(s"${cat.derivedDir}/idx/centroids.bak")))
  }

  // ------------------------------------------------- append-only join MV

  test("appendJoinMv: a retried batch id appends nothing (exactly-once)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jmv").toString
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
    assert(cat.joinMvSegments("jv") == Seq("seg_b1", "seg_b2"))
  }

  test("appendJoinMv: a torn segment is invisible and the retry heals it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jmvtorn").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x")).toDF("k", "name")
    cat.appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    // crash mid-write of batch 2: segment dir exists, no _SUCCESS
    val torn = p(s"${cat.derivedDir}/jv/seg_b2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk.parquet"), "garbage")
    assert(cat.joinMvSegments("jv") == Seq("seg_b1"), "torn segment served")
    assert(cat.readJoinMv("jv").count() == 1)
    // the retry overwrites the debris and commits
    val got = cat.appendJoinMv("jv", Seq((1L, 99L)).toDF("k", "v"),
      dim, Seq("k"), Some(2L))
    assert(got.count() == 2)
    assert(cat.joinMvSegments("jv") == Seq("seg_b1", "seg_b2"))
  }

  test("compactJoinMv: folds segments, keeps rows, preserves latest-batch no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jmvcomp").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    cat.appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    cat.appendJoinMv("jv", Seq((2L, 20L)).toDF("k", "v"), dim, Seq("k"), Some(2L))
    cat.appendJoinMv("jv", Seq((1L, 30L)).toDF("k", "v"), dim, Seq("k"), Some(3L))
    val before = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(cat.compactJoinMv("jv").count() == 3)
    assert(cat.joinMvSegments("jv") == Seq("seg_b3"), "not folded to one segment")
    val after = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before, "compaction changed the view contents")
    // the only possible retry (latest batch) still no-ops
    assert(cat.appendJoinMv("jv", Seq((9L, 99L)).toDF("k", "v"),
      dim, Seq("k"), Some(3L)).count() == 3)
    // and the next real batch appends normally
    assert(cat.appendJoinMv("jv", Seq((2L, 40L)).toDF("k", "v"),
      dim, Seq("k"), Some(4L)).count() == 4)
  }

  test("maintain folds a join MV at its segment threshold, not below it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jmvmaint").toString
    val cat = new graft.sources.Catalog(spark, root)
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "name")
    (1L to 3L).foreach(b =>
      cat.appendJoinMv("jv", Seq((b % 2 + 1, b * 10)).toDF("k", "v"), dim, Seq("k"), Some(b)))
    val before = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(cat.maintain(threshold = 4).isEmpty)
    assert(cat.joinMvSegments("jv").size == 3)
    assert(cat.maintain(threshold = 3) == Seq("jv"))
    assert(cat.joinMvSegments("jv") == Seq("seg_b3"))
    val after = cat.readJoinMv("jv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before)
  }

  test("appendJoinMv: a fresh Catalog instance resumes from disk alone") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-jmvres").toString
    val dim = Seq((1L, "x")).toDF("k", "name")
    new graft.sources.Catalog(spark, root)
      .appendJoinMv("jv", Seq((1L, 10L)).toDF("k", "v"), dim, Seq("k"), Some(1L))
    val fresh = new graft.sources.Catalog(spark, root)
    assert(fresh.readJoinMv("jv").count() == 1)
    assert(fresh.appendJoinMv("jv", Seq((1L, 20L)).toDF("k", "v"),
      dim, Seq("k"), Some(2L)).count() == 2)
  }
}
