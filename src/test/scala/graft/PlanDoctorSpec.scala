package graft

import org.apache.spark.sql.functions._
import graft.plans.PlanDoctor

/** PlanDoctor: the user-facing plan lint. Each rule is pinned with a
  * deliberately-bad plan and a clean counterpart — and lint() never
  * executes the frame (a would-be-huge cross join lints instantly). */
class PlanDoctorSpec extends SparkSpec {

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanDoctor.lint(df).collect().map(_.getString(0)).toSet

  test("cartesian product flagged as error; equi-join clean") {
    // both sides must clear the broadcast threshold or the planner
    // picks BNLJ instead; lint never executes, so the size is free
    val a = spark.range(100000000L).toDF("x")
    val b = spark.range(100000000L).toDF("y")
    val cross = a.crossJoin(b) // would be 10^16 rows if executed
    assert(rules(cross).contains("cartesian_product"))
    val clean = a.join(b.withColumnRenamed("y", "x"), "x")
    assert(!rules(clean).contains("cartesian_product"))
  }

  test("keyless broadcast join flagged as warn") {
    val big = spark.range(100000).toDF("x")
    val tiny = spark.range(3).toDF("y")
    val bnlj = big.join(broadcast(tiny), col("x") > col("y"))
    assert(rules(bnlj).contains("broadcast_nested_loop"))
  }

  test("unpartitioned window flagged; partitioned window clean") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.orders(spark, sfDir)
    val bad = df.withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey"))))
    assert(rules(bad).contains("unpartitioned_window"))
    val good = df.withColumn("rn", row_number().over(
      Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))))
    assert(!rules(good).contains("unpartitioned_window"))
  }

  test("repartition(1) mid-pipeline flagged as single-partition exchange") {
    val df = Tables.orders(spark, sfDir)
      .select(col("o_orderkey")).repartition(1)
      .groupBy(col("o_orderkey") % 7).count()
    assert(rules(df).contains("single_partition_exchange"))
  }

  test("wide unfiltered scan nudged as info; pushed filter clean") {
    val wide = Tables.lineitem(spark, sfDir) // 16 columns, no filter
    assert(rules(wide).contains("unfiltered_wide_scan"))
    val filtered = Tables.lineitem(spark, sfDir)
      .where(col("l_orderkey") === 42L)
      .select(col("l_orderkey"), col("l_quantity"))
    assert(!rules(filtered).contains("unfiltered_wide_scan"))
  }

  test("a representative driver query lints clean") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    assert(rules(df).isEmpty)
  }

  // ---- streaming rules: the unbounded-STATE scale-killers ----

  private def rate = spark.readStream.format("rate").load()

  test("streaming: stateful op without watermark flagged; watermarked clean") {
    val bad = rate.groupBy(col("value") % 10).count()
    assert(rules(bad).contains("stateful_no_watermark"))
    val good = rate.withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "5 minutes")).count()
    assert(!rules(good).contains("stateful_no_watermark"))
  }

  test("streaming: equi-only stream-stream join flagged; time-bounded clean") {
    val a = rate.select(col("value").as("k"), col("timestamp").as("ta"))
      .withWatermark("ta", "5 minutes")
    val b = rate.select(col("value").as("k2"), col("timestamp").as("tb"))
      .withWatermark("tb", "5 minutes")
    // watermarks alone don't expire inner-join state: no range, no gate
    val bad = a.join(b, col("k") === col("k2"))
    assert(rules(bad).contains("stream_stream_join_unbounded"))
    val good = a.join(b, col("k") === col("k2") &&
      col("tb") >= col("ta") &&
      col("tb") <= col("ta") + expr("interval 10 minutes"))
    assert(!rules(good).contains("stream_stream_join_unbounded"))
  }

  test("streaming: NoTimeout state warned; ProcessingTimeTimeout clean") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    def fold(timeout: GroupStateTimeout) = rate
      .select((col("value") % 10).as("k"), col("value").as("v"))
      .as[(Long, Long)].groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (_: Long, _: Iterator[(Long, Long)], _: GroupState[Long]) =>
          Iterator.empty[Long])
      .toDF()
    assert(rules(fold(GroupStateTimeout.NoTimeout))
      .contains("stateful_no_timeout"))
    assert(!rules(fold(GroupStateTimeout.ProcessingTimeTimeout))
      .contains("stateful_no_timeout"))
  }

  test("doctor! latches the CI-gate flag on errors only") {
    val cat = new graft.sources.Catalog(spark, sfDir,
      Some(tempDir("graft-doc").toString))
    spark.range(100000000L).toDF("x").createOrReplaceTempView("doc_a")
    spark.range(100000000L).toDF("y").createOrReplaceTempView("doc_b")
    Shell.strictDoctorFailed = false
    assert(Shell.execute("doctor! SELECT 1 AS one", spark, cat, sfDir))
    assert(!Shell.strictDoctorFailed)
    assert(Shell.execute(
      "doctor! SELECT * FROM doc_a CROSS JOIN doc_b", spark, cat, sfDir))
    assert(Shell.strictDoctorFailed)
    Shell.strictDoctorFailed = false
  }
}
