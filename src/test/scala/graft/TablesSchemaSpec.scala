package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Catalog

/** [[Tables.load]] resolves each table's schema once per session and
  * file version: building a query over known tables launches no Spark
  * job, and a rewritten file, an overwritten upload or a second session
  * is inferred afresh. */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `build` runs on this thread. A marker job run
    * after it is the barrier: the listener bus delivers job starts in
    * order, so once the marker's start arrives every earlier one has. */
  private def jobsDuring(build: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.tables.spec"
    val started = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).foreach {
          case "marker" => marker.countDown()
          case "build" => started.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "build")
      build
      sc.setLocalProperty(tag, "marker")
      spark.range(1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job start never arrived")
      started.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Write `df` as ONE parquet file at `file` (the fixture layout). */
  private def writeFile(df: DataFrame, file: Path): Unit = {
    val tmp = tempDir("graft-tables-write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("building q_word_count, q3_join and q1_agg over resolved tables starts no job") {
    Tables.names.foreach(Tables.load(spark, sfDir, _))
    val jobs = Seq("q_word_count", "q3_join", "q1_agg").map { q =>
      q -> jobsDuring(SparkEntry.queries(q)(spark, sfDir))
    }.toMap
    assert(jobs == Map("q_word_count" -> 0, "q3_join" -> 0, "q1_agg" -> 0))
  }

  test("a rewritten table file is inferred again: an added column shows") {
    val dir = tempDir("graft-tables-rewrite")
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir.resolve("t.parquet"))
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("k", "v"))
    writeFile(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "w"), dir.resolve("t.parquet"))
    val df = Tables.load(spark, dir.toString, "t")
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.select("w").as[Double].collect().sorted.toSeq == Seq(1.5, 2.5))
  }

  test("flipping events.ts from NTZ to UTC-adjusted still yields the same TIMESTAMP values") {
    val micros = (0 until 24).map(i => 1700000000000000L + i * 600000000L + i * 31L)
    val base = micros.toDF("us").withColumn("user_id", $"us" % 3)
    val dir = tempDir("graft-tables-tsflip")
    val file = dir.resolve("events.parquet")
    def eventsMicros(): Seq[Long] = {
      val ev = Tables.events(spark, dir.toString)
      assert(ev.schema("ts").dataType == TimestampType)
      ev.select(unix_micros($"ts")).as[Long].collect().sorted.toSeq
    }
    // Spark-written NTZ keeps its type through inference: the cast branch
    writeFile(base.select(timestamp_micros($"us").cast(TimestampNTZType).as("ts"), $"user_id"), file)
    assert(Tables.load(spark, dir.toString, "events").schema("ts").dataType == TimestampNTZType)
    assert(eventsMicros() == micros)
    // UTC-adjusted: the pass-through branch
    writeFile(base.select(timestamp_micros($"us").as("ts"), $"user_id"), file)
    assert(Tables.load(spark, dir.toString, "events").schema("ts").dataType == TimestampType)
    assert(eventsMicros() == micros)
  }

  test("overwriting an uploaded directory through writeChunked shows the new schema") {
    val base = tempDir("graft-tables-upload").toString
    val cat = new Catalog(spark, base)
    val dest = s"$base/up.parquet"
    cat.writeChunked(Seq((1L, "x")).toDF("k", "v"), dest, maxRecordsPerFile = 1L)
    assert(cat.table("up").columns.toSeq == Seq("k", "v"))
    cat.writeChunked(Seq((1L, 2.0, true), (2L, 3.0, false)).toDF("k", "score", "flag"), dest,
      maxRecordsPerFile = 1L)
    val df = cat.read("up", "parquet")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("k" -> LongType, "score" -> DoubleType, "flag" -> BooleanType))
    assert(df.count() == 2)
    // Spark's own sidecars (`_SUCCESS`, `.crc`) are not data: touching
    // them keeps the key, so the next load infers nothing
    Files.list(java.nio.file.Paths.get(dest)).iterator().asScala
      .filter(p => Seq("_", ".").exists(p.getFileName.toString.startsWith))
      .foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000)))
    assert(jobsDuring(cat.table("up")) == 0)
  }

  test("a second session never reuses the first session's schema") {
    // two part files with different columns: without schema merging the
    // schema comes from one file, with it from both — a session conf
    // parquet inference reads, like nanosAsLong and inferTimestampNTZ
    val dir = tempDir("graft-tables-sessions")
    val table = dir.resolve("m.parquet")
    Seq((1L, "b")).toDF("a", "b").write.parquet(table.resolve("x=1").toString)
    Seq((2L, "c")).toDF("a", "c").write.parquet(table.resolve("x=2").toString)
    assert(Tables.load(spark, dir.toString, "m").columns.length == 3) // a, one of b/c, x
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = Tables.load(merging, dir.toString, "m")
    assert(merged.columns.toSet == Set("a", "b", "c", "x"))
    assert(merged.count() == 2)
  }
}
