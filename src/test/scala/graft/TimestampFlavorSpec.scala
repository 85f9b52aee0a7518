package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contract spec for the `events.ts` timestamp flavor zoo.
  *
  * The driver's testdata generator has shipped `events.ts` as three
  * different parquet physical types across rounds — TIMESTAMP(NANOS)
  * (readable only as a long under nanosAsLong), µs NOT-UTC-adjusted
  * (inferred TIMESTAMP_NTZ under Spark 4 defaults), and µs UTC-adjusted
  * (plain TIMESTAMP) — and each silent switch broke every `unix_micros`
  * and `withWatermark` consumer at analysis time. This spec pins the
  * contract: [[Tables.normalizeTs]] must yield an identical
  * TIMESTAMP-typed column, with identical µs values, from ALL flavors,
  * and the session conf must make streaming schema inference
  * watermark-safe. Reference semantic: the typed line-record contract in
  * compute_engine/context.go — inputs are normalized once at the edge.
  */
class TimestampFlavorSpec extends SparkSpec {
  import spark.implicits._

  // 48 events spread over 4 hours; µs values exercise sub-second digits
  private val baseMicros: Seq[Long] =
    (0 until 48).map(i => 1700000000000000L + i * 300000000L + i * 137L)

  private def writeFlavor(flavor: String): String = {
    val dir = tempDir(s"graft-tsflavor-$flavor").toString
    val df = flavor match {
      case "ns-long" =>
        // nanosAsLong reads TIMESTAMP(NANOS) parquet as a plain long of
        // ns-since-epoch; a LongType ns column is read back identically
        baseMicros.map(_ * 1000L).toDF("ts")
      case "us-ltz" =>
        baseMicros.toDF("us").select(timestamp_micros($"us").as("ts"))
      case "us-ntz" =>
        // TimestampNTZType writes parquet timestamp[us] with
        // isAdjustedToUTC=false — the flavor the driver generated on
        // 2026-08-13 that broke 14 queries and 26 specs in round 4
        baseMicros.toDF("us")
          .select(timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
    }
    df.withColumn("user_id", monotonically_increasing_id() % 5)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def normalized(dir: String): DataFrame =
    Tables.normalizeTs(spark.read.parquet(dir))

  test("normalizeTs yields identical TIMESTAMP µs values from all three flavors") {
    val flavors = Seq("ns-long", "us-ltz", "us-ntz")
    val values = flavors.map { f =>
      val df = normalized(writeFlavor(f))
      assert(df.schema("ts").dataType == TimestampType, s"flavor $f")
      // unix_micros is the analysis-time victim when ts is NTZ or long
      f -> df.select(unix_micros($"ts")).as[Long].collect().sorted.toSeq
    }.toMap
    assert(values("ns-long") == baseMicros.sorted)
    assert(values("us-ltz") == baseMicros.sorted)
    assert(values("us-ntz") == baseMicros.sorted)
  }

  test("normalizeTs handles an in-memory TIMESTAMP_NTZ column (inference-independent)") {
    // the session reads NTZ parquet as TIMESTAMP (inferTimestampNTZ off),
    // so exercise the TimestampNTZType branch of normalizeTs directly
    val ntz = baseMicros.toDF("us")
      .select(timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val fixed = Tables.normalizeTs(ntz)
    assert(fixed.schema("ts").dataType == TimestampType)
    // cast NTZ→LTZ is exact under the session's UTC timezone
    assert(fixed.select(unix_micros($"ts")).as[Long].collect().sorted.toSeq
      == baseMicros.sorted)
  }

  test("driver testdata (µs, not UTC-adjusted) reads as TIMESTAMP and is watermarkable") {
    // The REAL driver file: pyarrow-written timestamp[us] without
    // isAdjustedToUTC and without a Spark schema footer — the exact
    // shape that broke round 4. inferTimestampNTZ=false in Graft.session
    // must make both batch reads and streaming schema use plain
    // TIMESTAMP. (A Spark-written NTZ fixture can't stand in here: the
    // writer embeds its own schema in the footer and the reader honors
    // it over the inference conf.)
    // byte-copy the raw file into a dir (file streaming source wants a
    // directory; a Spark rewrite would replace the footer we're testing)
    val dir = tempDir("graft-tsflavor-driver").toString
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val batchSchema = spark.read.parquet(dir).schema
    assert(batchSchema("ts").dataType == TimestampType)
    val q = EventStreamFixture.hourlyCounts(spark, dir, batchSchema)
      .writeStream.format("memory").queryName("tsflavor_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits watermark-closed windows; the 4-hour replay
    // closes at least the first window
    assert(spark.table("tsflavor_out").count() > 0)
  }
}

private object EventStreamFixture {
  def hourlyCounts(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
}
