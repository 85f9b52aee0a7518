package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog

/** scd2Backfill: late changes repaired into the streamed version
  * history by reconstructing affected keys' change logs FROM the
  * stored history (no raw log retained), equal to the batch operator
  * over the reordered full log. */
class Scd2BackfillSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(java.nio.file.Files.createTempDirectory("graft-bkf").toString))

  private def chg(rows: (Long, Long, String, String)*) =
    rows.toDF("k", "seq", "op", "v")

  private def histSet(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "valid_from", "valid_to", "v", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3),
        r.getBoolean(4))).toSet

  private def expect(all: (Long, Long, String, String)*) =
    histSet(Catalog.scd2History(chg(all: _*), "k", "seq", "op"))

  test("a held-out middle change backfills to the full-log history") {
    val cat = freshCat()
    // key 1 changes at 10, 20, 30 — 20 arrives late
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (1L, 30L, "u", "c"),
      (2L, 5L, "u", "x")), "k", "seq", "op", 0L)
    cat.scd2Backfill("m", chg((1L, 20L, "u", "b")), "k", "seq", "op")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (1L, 20L, "u", "b"), (1L, 30L, "u", "c"),
        (2L, 5L, "u", "x")))
  }

  test("a late tombstone closes mid-history; deletes stay reconstructable") {
    val cat = freshCat()
    // applied: u@10, u@30 (version a valid [10,30), c current);
    // late: d@20 — after repair, a is valid [10,20), then a gap, then c
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (1L, 30L, "u", "c")),
      "k", "seq", "op", 0L)
    cat.scd2Backfill("m", chg((1L, 20L, "d", null: String)), "k", "seq", "op")
    val got = histSet(cat.scd2MvHistory("m", "seq", "op"))
    assert(got == expect((1L, 10L, "u", "a"), (1L, 20L, "d", null),
      (1L, 30L, "u", "c")), got.toString)
    // a SECOND backfill on the same key reconstructs THROUGH the
    // tombstone (u@25 lands between d@20 and u@30)
    cat.scd2Backfill("m", chg((1L, 25L, "u", "b")), "k", "seq", "op")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (1L, 20L, "d", null),
        (1L, 25L, "u", "b"), (1L, 30L, "u", "c")))
  }

  test("a NO-OP delete (d on an already-deleted key) still closes a late span") {
    val cat = freshCat()
    // applied: u@10, d@20, d@25 (deletes nothing — invisible in the
    // version rows, preserved only by the delete audit), u@40;
    // late u@22 must open a span the SECOND tombstone closes: [22, 25)
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (1L, 20L, "d", null),
      (1L, 25L, "d", null), (1L, 40L, "u", "c")), "k", "seq", "op", 0L)
    cat.scd2Backfill("m", chg((1L, 22L, "u", "b")), "k", "seq", "op")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (1L, 20L, "d", null), (1L, 22L, "u", "b"),
        (1L, 25L, "d", null), (1L, 40L, "u", "c")))
  }

  test("a brand-new key arriving late simply appears") {
    val cat = freshCat()
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a")), "k", "seq", "op", 0L)
    cat.scd2Backfill("m", chg((9L, 7L, "u", "z")), "k", "seq", "op")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (9L, 7L, "u", "z")))
  }

  test("unaffected keys are untouched and the batch marker survives") {
    val cat = freshCat()
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (2L, 5L, "u", "x")),
      "k", "seq", "op", 0L)
    cat.refreshScd2Mv("m", chg((2L, 8L, "u", "y")), "k", "seq", "op", 1L)
    cat.scd2Backfill("m", chg((1L, 4L, "u", "a0")), "k", "seq", "op")
    // a REPLAY of the already-applied batch 1 must still no-op
    cat.refreshScd2Mv("m", chg((2L, 8L, "u", "y")), "k", "seq", "op", 1L)
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 4L, "u", "a0"), (1L, 10L, "u", "a"),
        (2L, 5L, "u", "x"), (2L, 8L, "u", "y")))
  }

  test("the ordered stream resumes after a backfill") {
    val cat = freshCat()
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a")), "k", "seq", "op", 0L)
    cat.scd2Backfill("m", chg((1L, 5L, "u", "pre")), "k", "seq", "op")
    cat.refreshScd2Mv("m", chg((1L, 20L, "u", "b")), "k", "seq", "op", 1L)
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 5L, "u", "pre"), (1L, 10L, "u", "a"), (1L, 20L, "u", "b")))
  }

  test("a backfill rewrites only segments holding affected keys; the rest keep their bytes and mtimes") {
    val cat = freshCat()
    // batch 0 closes key 1's first span AND key 2's; batch 1 closes a
    // second key-2 span — so closed_seg_b1 holds ONLY key 2 rows
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (1L, 20L, "u", "b"),
      (2L, 5L, "u", "x"), (2L, 8L, "u", "y")), "k", "seq", "op", 0L)
    cat.refreshScd2Mv("m", chg((2L, 12L, "u", "z")), "k", "seq", "op", 1L)
    val seg1 = new java.io.File(s"${cat.derivedDir}/m/closed_seg_b1")
    val before = seg1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.nonEmpty)
    // late key-1 change: seg b0 (holds key 1) is rewritten, seg b1 is
    // NOT — its files survive the install byte-for-byte, mtimes intact
    cat.scd2Backfill("m", chg((1L, 15L, "u", "mid")), "k", "seq", "op")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (1L, 15L, "u", "mid"), (1L, 20L, "u", "b"),
        (2L, 5L, "u", "x"), (2L, 8L, "u", "y"), (2L, 12L, "u", "z")))
    val after = seg1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, s"untouched segment rewritten: $before -> $after")
    // no backup or pull intent left behind
    assert(!new java.io.File(s"${cat.derivedDir}/m.bak").exists())
    assert(!new java.io.File(s"${cat.derivedDir}/m/_backfill_pull").exists())
    // and the preserved layout still compacts + replays cleanly
    cat.compactScd2("m")
    assert(histSet(cat.scd2MvHistory("m", "seq", "op")) ==
      expect((1L, 10L, "u", "a"), (1L, 15L, "u", "mid"), (1L, 20L, "u", "b"),
        (2L, 5L, "u", "x"), (2L, 8L, "u", "y"), (2L, 12L, "u", "z")))
  }

  test("a pulled segment lost from the backup fails recovery and keeps the intent") {
    val cat = freshCat()
    cat.refreshScd2Mv("m", chg((1L, 10L, "u", "a"), (1L, 20L, "u", "b"),
      (2L, 5L, "u", "x"), (2L, 8L, "u", "y")), "k", "seq", "op", 0L)
    cat.refreshScd2Mv("m", chg((2L, 12L, "u", "z")), "k", "seq", "op", 1L)
    cat.scd2Backfill("m", chg((1L, 15L, "u", "mid")), "k", "seq", "op")
    // the state a crash between the install and the pull leaves: the
    // untouched segment parked in the backup, the pull intent pending
    val live = new java.io.File(s"${cat.derivedDir}/m")
    val bak = new java.io.File(s"${cat.derivedDir}/m.bak")
    assert(bak.mkdir())
    val seg = new java.io.File(bak, "closed_seg_b1")
    assert(new java.io.File(live, "closed_seg_b1").renameTo(seg))
    val intent = new java.io.File(live, "_backfill_pull")
    java.nio.file.Files.writeString(intent.toPath, "closed_seg_b1")
    // ... and the parked segment is then deleted from the backup
    seg.listFiles().foreach(_.delete())
    assert(seg.delete())
    val err = intercept[java.io.IOException](cat.scd2MvHistory("m", "seq", "op"))
    assert(err.getMessage.contains("closed_seg_b1"))
    assert(intent.exists(), "the pull intent was dropped with its segment lost")
  }
}
