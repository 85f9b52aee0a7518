package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog

/** Zone-map data skipping: the pruned scan must open ONLY the files
  * whose recorded [min,max] intersect the probe range, and must equal
  * the plain full-scan filter — skipping moves bytes, never results. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def mkCat = new Catalog(spark, sfDir)

  test("range probe opens only intersecting files and equals the plain filter") {
    val cat = mkCat
    val dest = tempDir("graft-zm").toString
    val li = Tables.lineitem(spark, sfDir)
    cat.writeSorted(li, dest, 8, "l_shipdate")
    cat.buildZoneMap(dest, Seq("l_shipdate"))

    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-03-31").cast("timestamp")
    val pruned = cat.scanZoneMappedN(dest, Seq(("l_shipdate", lo, hi)))
    val total = spark.read.parquet(dest).inputFiles.length
    val opened = pruned.inputFiles.length
    assert(total == 8, s"expected 8 data files, saw $total")
    assert(opened < total,
      s"narrow probe should skip files on a shipdate-sorted layout ($opened of $total opened)")

    val expect = spark.read.parquet(dest)
      .where(col("l_shipdate").between(lo, hi))
      .agg(count(lit(1)), sum($"l_quantity").cast("long")).head()
    val got = pruned.agg(count(lit(1)), sum($"l_quantity").cast("long")).head()
    assert(got == expect)
    assert(expect.getLong(0) > 0, "probe range should be non-empty at spec SF")
  }

  test("all-null-stats files skip; mixed null files are retained; sidecar invisible to data reads") {
    val cat = mkCat
    val dest = tempDir("graft-zm-null").toString
    // three range partitions → three files: grp 1 all-null v, grp 2
    // mixes nulls with in-range values, grp 3 out-of-range values
    val df = (
      (1 to 10).map(i => (1, None: Option[Long], i)) ++
      (1 to 10).map(i => (2, if (i % 2 == 0) Some(50L) else None, i)) ++
      (1 to 10).map(i => (3, Some(1000L + i), i))
    ).toDF("grp", "v", "payload")
    df.repartitionByRange(3, $"grp").write.mode("overwrite").parquet(dest)
    val before = spark.read.parquet(dest).count()
    cat.buildZoneMap(dest, Seq("v"))
    assert(spark.read.parquet(dest).count() == before,
      "_zonemap sidecar must be invisible to plain data reads")

    val pruned = cat.scanZoneMappedN(dest, Seq(("v", lit(40L), lit(60L))))
    // only grp 2's file can hold matches: grp 1 has null stats, grp 3 is out of range
    assert(pruned.inputFiles.length == 1,
      s"expected exactly the mixed file, saw ${pruned.inputFiles.length}")
    assert(pruned.select($"grp").distinct().as[Int].collect().toSeq == Seq(2))
    assert(pruned.count() == 5)

    // a probe matching nothing serves empty WITH schema, opening no data files
    val none = cat.scanZoneMappedN(dest, Seq(("v", lit(-100L), lit(-50L))))
    assert(none.count() == 0)
    assert(none.columns.toSeq == spark.read.parquet(dest).columns.toSeq)
  }

  test("2-D rectangle probe on a Z-ordered layout skips more than either 1-D probe") {
    val cat = mkCat
    val dest = tempDir("graft-zm-2d").toString
    // two independent uniform dimensions (the ZOrderNSpec rationale:
    // lineitem's key columns correlate, useless for a skipping measure)
    val df = spark.range(100000).select(
      pmod(hash($"id"), lit(1000)).cast("long").as("x"),
      pmod(hash($"id" * 7 + 3), lit(1000)).cast("long").as("y"),
      $"id")
    cat.writeZOrderedN(df, dest, 64, Seq("x", "y"))
    cat.buildZoneMap(dest, Seq("x", "y"))

    val rect = cat.scanZoneMappedN(dest,
      Seq(("x", lit(100L), lit(200L)), ("y", lit(100L), lit(200L))))
    val xOnly = cat.scanZoneMappedN(dest, Seq(("x", lit(100L), lit(200L))))
    val yOnly = cat.scanZoneMappedN(dest, Seq(("y", lit(100L), lit(200L))))
    assert(rect.inputFiles.length < xOnly.inputFiles.length,
      s"rectangle (${rect.inputFiles.length} files) should beat the x slab (${xOnly.inputFiles.length})")
    assert(rect.inputFiles.length < yOnly.inputFiles.length,
      s"rectangle (${rect.inputFiles.length} files) should beat the y slab (${yOnly.inputFiles.length})")

    val expect = spark.read.parquet(dest)
      .where($"x".between(100L, 200L) && $"y".between(100L, 200L))
      .agg(count(lit(1)), sum($"id")).head()
    assert(rect.agg(count(lit(1)), sum($"id")).head() == expect)
    assert(expect.getLong(0) > 0)
  }

  test("a stale zone map refuses to serve after a data rewrite") {
    val cat = mkCat
    val dest = tempDir("graft-zm-stale").toString
    (1 to 100).map(i => (i.toLong, i.toString)).toDF("k", "s")
      .repartition(4).write.mode("overwrite").parquet(dest)
    cat.buildZoneMap(dest, Seq("k"))
    // rewrite with a different file count — stats no longer describe the dir
    (1 to 100).map(i => (i.toLong, i.toString)).toDF("k", "s")
      .repartition(2).write.mode("overwrite").parquet(dest)
    val err = intercept[IllegalArgumentException] {
      cat.scanZoneMappedN(dest, Seq(("k", lit(1L), lit(10L))))
    }
    assert(err.getMessage.contains("stale"))
    // rebuild heals it
    cat.buildZoneMap(dest, Seq("k"))
    assert(cat.scanZoneMappedN(dest, Seq(("k", lit(1L), lit(10L)))).count() == 10)
  }
}
