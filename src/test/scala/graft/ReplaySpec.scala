package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Events
import graft.streaming.{EventStream, Replay}

/** The shared replay source must make streaming output independent of
  * microbatch granularity: files are range-partitioned by event time
  * with ascending modification times, so FileStreamSource's mod-time
  * order IS event-time order and no trigger ever delivers events below
  * the watermark established by an earlier trigger. The sharpest test
  * is maxFilesPerTrigger = 1 (9 triggers over the 8 range files +
  * sentinel — the shape that silently dropped late rows under the old
  * unordered per-replay writes).
  */
class ReplaySpec extends SparkSpec {

  test("sessionize replay output is invariant to microbatch granularity") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val src = Replay.source(spark, sfDir)
    def run(mfpt: Int) =
      Replay.run(spark, src, maxFilesPerTrigger = mfpt) { stream =>
        EventStream.sessionize(stream.select(col("user_id"), col("tsu"),
          col("value")).as[EventStream.Event]).toDF()
      }
        .where(col("user_id") =!= src.sentinelUser)
        .select("user_id", "n_events", "start_us", "end_us")
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(run(1) == run(1000))
  }

  test("source is built once per sfDir and the sentinel is derived from the data") {
    import spark.implicits._
    val a = Replay.source(spark, sfDir)
    val b = Replay.source(spark, sfDir)
    assert(a.dir == b.dir)
    val maxUser = Tables.events(spark, sfDir)
      .agg(max(col("user_id"))).as[Long].head()
    assert(a.sentinelUser == maxUser + 1L)
    // the sentinel file exists in the source and is its newest file
    val files = new java.io.File(a.dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    val newest = files.maxBy(_.lastModified())
    val sentRows = spark.read.parquet(a.dir)
      .where(col("user_id") === a.sentinelUser).count()
    assert(sentRows == 1L)
    assert(spark.read.parquet(newest.getAbsolutePath)
      .agg(max(col("user_id"))).as[Long].head() == a.sentinelUser)

    // the cache key is the events file's version, not the dir: a
    // rewritten events.parquet is replayed afresh, never from the old
    // copy (the replay and the batch window share the e_tumbling oracle)
    val dir = tempDir("graft-replay-rewrite")
    val events = dir.resolve("events.parquet")
    Files.copy(Paths.get(sfDir, "events.parquet"), events)
    def multiset(df: DataFrame) = df
      .select("hour_start", "event_type", "cnt", "sum_value")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    def replayed = multiset(EventStream.tumblingCountsReplay(spark, dir.toString))
    def batch = multiset(Events.tumblingHourly(Tables.events(spark, dir.toString)))
    val before = replayed
    assert(before == batch)
    val subset = dir.resolve("subset")
    spark.read.parquet(events.toString).where(col("user_id") % 2 === 0)
      .coalesce(1).write.parquet(subset.toString)
    val part = subset.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, events, StandardCopyOption.REPLACE_EXISTING)
    val after = replayed
    assert(after != before)
    assert(after == batch)
  }

  test("state partition count derives from source bytes, not core count") {
    // a megabytes-scale local source gets the few partitions its bytes
    // justify; the same formula scales linearly with bytes and caps at
    // 32768 (beyond the cap, bytes-per-partition grows instead)
    val dir = tempDir("replay-parts-spec")
    def fileOf(bytes: Int): Unit = {
      val f = dir.resolve(s"part-${bytes}")
      Files.write(f, new Array[Byte](bytes)): Unit
    }
    assert(Replay.streamShufflePartitions(spark, dir.toString) == 1) // empty dir
    fileOf(1 << 20)
    assert(Replay.streamShufflePartitions(spark, dir.toString) == 1) // 1 MiB
    fileOf((64 << 20) - (1 << 20)) // exactly 64 MiB total
    assert(Replay.streamShufflePartitions(spark, dir.toString) == 1)
    fileOf(1) // 64 MiB + 1 byte
    assert(Replay.streamShufflePartitions(spark, dir.toString) == 2)
    dir.toFile.listFiles().foreach(_.delete())
    Files.delete(dir)
    // a path the filesystem cannot see falls back to the session's
    // shuffle-partition setting, never to a silent 1 (the Hadoop-FS
    // resolution also covers hdfs://s3a:// sources, unlike java.io)
    assert(Replay.streamShufflePartitions(spark, dir.resolve("nope").toString)
      == spark.sessionState.conf.numShufflePartitions)
  }

  test("the scoped stream partition conf never leaks into the session") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val src = Replay.source(spark, sfDir)
    Replay.run(spark, src) { stream =>
      EventStream.dedupKeysStream(
        stream.select(col("user_id"), col("event_type"), col("ts")))
    }: Unit
    assert(spark.conf.get(key) == before)
  }
}
