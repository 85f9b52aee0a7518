package graft

import org.apache.spark.sql.functions._
import graft.sources.Catalog
import graft.operators.Skew

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (hand-checked values)") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L))
      .toDF("x", "y")
      .select(Catalog.zValueN(Seq($"x", $"y")).as("z")).as[Long].collect().toSeq
    // (1,0)->1; (0,1)->2; (3,3)->15; (5,2): x bits 101 -> 1,0,16; y bits 010 -> 8 => 25
    assert(out == Seq(0L, 1L, 2L, 15L, 25L))
  }

  test("writeZOrderedN produces disjoint, internally-sorted Z ranges per file") {
    val cat = new Catalog(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val dest = "/tmp/graft_zorder_test"
    cat.writeZOrderedN(li, dest, 8, Seq("l_partkey", "l_suppkey"))
    val back = spark.read.parquet(dest)
    assert(back.count() == li.count())
    // per-file z min/max: ranges must not overlap across files
    val ranges = back
      .withColumn("z", Catalog.zValueN(Seq($"l_partkey", $"l_suppkey")))
      .withColumn("f", input_file_name())
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy($"lo")
      .as[(String, Long, Long)].collect()
    assert(ranges.length > 1, "expected multiple files")
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) =>
        assert(hi1 <= lo2, s"file z ranges overlap: $hi1 > $lo2")
      case _ =>
    }
  }
}

class ZOrderNSpec extends SparkSpec {
  import spark.implicits._

  test("zValueN generalizes the 2-dim interleave exactly") {
    val df = Seq((5L, 2L), (3L, 3L), (12345L, 678L)).toDF("x", "y")
    // the 2-dim interleave bit by bit: x's bit i at 2i, y's at 2i + 1
    def z2(x: Long, y: Long): Long = (0 until 16).map(i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val both = df.select($"x", $"y", Catalog.zValueN(Seq($"x", $"y")).as("zn"))
      .as[(Long, Long, Long)].collect()
    both.foreach { case (x, y, zn) => assert(zn == z2(x, y), s"($x, $y)") }
    // 3-dim hand check: (1,1,1) -> bits 0,1,2 set = 7; (2,0,1): x bit1 ->
    // pos 3, z bit0 -> pos 2 => 8 + 4 = 12
    val out3 = Seq((1L, 1L, 1L), (2L, 0L, 1L)).toDF("a", "b", "c")
      .select(Catalog.zValueN(Seq($"a", $"b", $"c")).as("z")).as[Long].collect().toSeq
    assert(out3 == Seq(7L, 12L))
  }

  test("3-column Z-order write: disjoint per-file Z ranges AND footer pruning on the third dimension") {
    val cat = new Catalog(spark, sfDir)
    // three INDEPENDENT uniform dimensions (lineitem's key columns are
    // correlated and l_suppkey has ~10 distinct values at spec SF —
    // useless for a pruning measurement)
    val df = spark.range(60000).select(
      (col("id") % 251).as("a"),
      ((col("id") * 7) % 241).as("b"),
      ((col("id") * 13) % 256).as("c"))
    val zCols = Seq("a", "b", "c")
    val dest = "/tmp/graft_zorder3_test"
    cat.writeZOrderedN(df, dest, 8, zCols)
    val back = spark.read.parquet(dest)
    assert(back.count() == 60000)
    // disjoint Z ranges per file (the contiguity contract)
    val ranges = back
      .withColumn("z", Catalog.zValueN(zCols.map(col)))
      .withColumn("f", input_file_name())
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy($"lo").as[(String, Long, Long)].collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // pruning on the THIRD z column: fraction of files whose `c` min/max
    // footer covers a probe, z-ordered vs sorted by the leading column
    // only (where `c` spans every file)
    def coverage(path: String): Double = {
      val mm = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy($"f").agg(min($"c").as("lo"), max($"c").as("hi"))
        .as[(String, Long, Long)].collect()
      val probes = Seq(3L, 77L, 128L, 201L, 255L)
      probes.map(v => mm.count { case (_, lo, hi) => lo <= v && v <= hi }.toDouble
        / mm.length).sum / probes.length
    }
    val sortedDest = "/tmp/graft_zorder3_sorted_baseline"
    df.repartitionByRange(8, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(sortedDest)
    val zCov = coverage(dest)
    val baseCov = coverage(sortedDest)
    assert(zCov < baseCov,
      s"z-order gave no third-dimension pruning: z=$zCov vs leading-sort=$baseCov")
    assert(zCov <= 0.75, s"z-order files nearly all cover every `c` probe: $zCov")
  }
}

class SaltedAggSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-stage aggregate equals the plain aggregate exactly") {
    val li = Tables.lineitem(spark, sfDir)
    val salted = Skew.saltedAgg(li, "l_returnflag", "l_extendedprice")
      .orderBy($"l_returnflag").as[(String, Long, Double)].collect().toSeq
    val plain = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("cnt"), graft.functions.Exact.moneySum($"l_extendedprice").as("s"))
      .orderBy($"l_returnflag").as[(String, Long, Double)].collect().toSeq
    assert(salted == plain)
  }
}
