package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared infrastructure for the ORACLE-VISIBLE streaming replays. A
  * replay streams from a [[Feed]] — a parquet directory and the schema
  * its stream reads — through one of two verbs: [[run]] (a checkpointed
  * file-to-file query, read back as a batch DataFrame) or
  * [[runForeachBatch]] (each microbatch handed to a side-effecting
  * sink). Three builders make feeds: [[source]] (the ordered events
  * copy below), [[docSource]] (the documents copy) and
  * [[orderedHandoff]] (a chained stream's mid-pipeline feed).
  *
  * The events copy every event replay streams from is written ONCE per
  * JVM session per version of `events.parquet` (Verify/Bench run 3–4
  * replay queries — and Bench 3 passes of each — so per-replay source
  * writes were both the dominant replay cost and a /tmp leak). The
  * cache key is the file version [[graft.Tables.load]] keys its schemas
  * by, so a rewritten table is copied afresh instead of replaying the
  * old copy.
  *
  * Correctness at any file count: FileStreamSource feeds files to
  * triggers in MODIFICATION-TIME order, which for an arbitrary batch
  * write is arbitrary — with a 1-hour watermark delay, a later trigger
  * carrying earlier events would silently drop them as late data and
  * the replay would no longer equal its batch oracle (latent break the
  * moment the source outgrows one trigger). The replay source is
  * therefore written `repartitionByRange(8, tsu)` with file
  * modification times REWRITTEN to ascend with the range ordinal:
  * trigger order == file order == event-time order by construction, so
  * no event ever arrives below the watermark, at ANY
  * `maxFilesPerTrigger`.
  *
  * The far-future sentinel that drives the final watermark past every
  * real event (so append-mode output finalizes completely) is part of
  * the source itself — one extra newest-mtime file, processed as the
  * last trigger of every replay. Its user_id is DERIVED as
  * max(user_id)+1 (a real user equal to a hard-coded sentinel would
  * have been silently filtered from the output), and it lands
  * maxTsu + 6h so the watermark clears not just every event but every
  * WINDOW END a windowed replay can emit (window ends reach maxTsu +
  * window size; 6h − max delay 2h leaves 4h of slack). It is a 'view'
  * (right side / no-op for every replay shape) and every replay filters
  * it on read-back.
  *
  * All replay dirs live under one temp root removed by a JVM shutdown
  * hook — Bench no longer grows /tmp by an events-table copy per
  * replay per pass.
  *
  * Which state store a stateful replay uses is the session's own
  * `spark.sql.streaming.stateStore.providerClass`, captured at query
  * start like any streaming query's: a deployment whose session or
  * top-k state outgrows executor heap sets Spark's RocksDB provider
  * (disk-backed, incremental checkpoints) on its session. The provider
  * changes where state lives, never what it holds.
  */
object Replay {

  /** A replay feed: the parquet directory a FileStreamSource streams
    * from and the schema its stream reads. */
  class Feed(val dir: String, val schema: StructType)

  /** The ordered events feed: every event replay selects its columns
    * from this schema. `maxTsu` is the last real event's time and
    * `sentinelUser` the watermark pusher's user, filtered on read-back. */
  final class Source(dir: String, schema: StructType, val maxTsu: Long,
      val sentinelUser: Long) extends Feed(dir, schema)

  private val runCounter = new AtomicInteger(0)

  /** Serializes the partition-conf set → start() → restore window of
    * [[run]] (the count is captured from the session conf at query
    * START, so that window must exclude concurrent starts). */
  private val partsScopeLock = new Object
  private val sources = scala.collection.concurrent.TrieMap[graft.Tables.Version, Source]()

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft-replay")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p.toFile)))
    p
  }

  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Build (once per JVM per version of `events.parquet`) the ordered
    * replay source. */
  def source(spark: SparkSession, sfDir: String): Source =
    sources.getOrElseUpdate(graft.Tables.version(spark, sfDir, "events"), synchronized {
      import spark.implicits._
      val batch = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("tsu"), col("ts"))
      val (maxTsu, maxUser) = batch
        .agg(max(col("tsu")), max(col("user_id"))).as[(Long, Long)].head()
      val dir = root.resolve(s"src-${runCounter.incrementAndGet()}")
      val sentinelUser = maxUser + 1L
      val sentTsu = maxTsu + 6L * 3600L * 1000000L
      val sentinel = Seq((-1L, sentinelUser, "view", 0.0, sentTsu))
        .toDF("event_id", "user_id", "event_type", "value", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
      writeOrdered(batch, "tsu", sentinel, 8, dir)
      new Source(dir.toString, batch.schema, maxTsu, sentinelUser)
    })

  /** Write `df` into `dir` as an event-time-ORDERED file feed:
    * `nFiles` files range-partitioned and sorted on `tsCol`, their
    * mtimes rewritten to ascend with the range ordinal (part-NNNNN
    * name order), all strictly in the past, then `sentinel` appended
    * as the unambiguous newest file. A FileStreamSource then feeds the
    * ranges in event-time order and the sentinel last. */
  private def writeOrdered(df: DataFrame, tsCol: String, sentinel: DataFrame,
      nFiles: Int, dir: Path): Unit = {
    df.repartitionByRange(nFiles, col(tsCol))
      .sortWithinPartitions(col(tsCol))
      .write.mode("overwrite").parquet(dir.toString)
    val now = System.currentTimeMillis()
    val parts = dir.toFile.listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f.toPath,
        FileTime.fromMillis(now - (parts.length - i) * 2000L)): Unit
    }
    sentinel.coalesce(1).write.mode("append").parquet(dir.toString)
    dir.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.lastModified() >= now)
      .foreach(f => Files.setLastModifiedTime(f.toPath,
        FileTime.fromMillis(now + 60000L)): Unit)
  }

  /** Scale-adaptive shuffle/state partition count for a replay query,
    * derived from the SOURCE'S BYTES (64 MiB of source per partition),
    * never from the machine's core count. A streaming query's shuffle
    * partition count is captured at query start and becomes the STATE
    * STORE instance count for every stateful operator — per trigger,
    * each instance pays a commit (a delta file for the HDFS-backed
    * provider, an instance open/commit for RocksDB) regardless of how
    * few rows it holds. Sized to the core count (32), a megabytes-scale
    * source pays 32 near-empty state commits per operator per trigger —
    * measured 2.8× the whole stream-stream replay (8.4 s → 3.0 s on
    * identical 32-core hardware) — while the SAME bytes-derived formula
    * gives a 100 TB source thousands of partitions. The 32768 cap
    * bounds the per-trigger fixed cost at any size (beyond it, grow
    * bytes-per-partition, the guide's 100 MB–1 GB window).
    * Source bytes resolve through the Hadoop FileSystem API, so the
    * formula holds for hdfs://, s3a://, and file: URIs alike (a plain
    * java.io.File would read 0 bytes for any non-local path and pin 1
    * partition into the checkpoint for the query's lifetime); a path
    * the filesystem cannot see falls back to the session's current
    * shuffle-partition setting instead of defaulting to 1. */
  private[graft] def streamShufflePartitions(spark: SparkSession,
      srcDir: String): Int = {
    val target = 64L * 1024 * 1024
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.sessionState.conf.numShufflePartitions
    else {
      val bytes = fs.getContentSummary(p).getLength
      math.max(1L, math.min((bytes + target - 1) / target, 32768L)).toInt
    }
  }

  /** Run one checkpointed file-to-file replay of `build(stream)` over
    * `feed` and read the sink back as a batch DataFrame.
    * `maxFilesPerTrigger` controls microbatch granularity — over an
    * ordered feed any value is correct (see ordering note above); the
    * default replays [[source]] as 3 genuine microbatches (4+4 range
    * files, then the sentinel). STATELESS transforms (map/filter gates)
    * need no event-time ordering or sentinel, so any feed serves them. */
  def run(spark: SparkSession, feed: Feed, maxFilesPerTrigger: Int = 4)(
      build: DataFrame => DataFrame): DataFrame = {
    val runDir = root.resolve(s"run-${runCounter.incrementAndGet()}")
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feed.dir)
    // shuffle partitions are captured at query START (pinned in the
    // checkpoint's OffsetSeqMetadata from then on), so a scoped
    // set/start/restore window applies the bytes-derived state
    // partition count to THIS replay without leaking into the
    // session's batch queries. The window is serialized: a CONCURRENT
    // start in the same session during it would capture the scoped
    // count (or have its own restore clobbered) — the lock makes the
    // scoping safe by construction instead of by the replays happening
    // to run serially
    val partsKey = "spark.sql.shuffle.partitions"
    val q = partsScopeLock.synchronized {
      val prevParts = spark.conf.getOption(partsKey)
      spark.conf.set(partsKey, streamShufflePartitions(spark, feed.dir).toString)
      try build(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", runDir.resolve("ckpt").toString)
        .outputMode("append")
        .start(runDir.resolve("out").toString)
      finally prevParts match {
        case Some(v) => spark.conf.set(partsKey, v)
        case None => spark.conf.unset(partsKey)
      }
    }
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(runDir.resolve("out").toString)
  }

  /** Materialize a mid-pipeline handoff as an event-time-ORDERED plain
    * file feed for the next chained stream: four files range-partitioned
    * on `tsCol` with ascending mtimes (trigger order == event-time order,
    * the [[source]] recipe), plus `sentinel` as the newest file — the
    * next stage's watermark pusher. Needed because a STREAMING SINK
    * carries a `_spark_metadata` log: a FileStreamSource pointed at it
    * reads the file list from the log, so hand-appended files (a
    * sentinel) are INVISIBLE — the handoff must be re-materialized
    * into a log-free dir before the next stream can consume it with
    * its own sentinel. */
  def orderedHandoff(df: DataFrame, tsCol: String, sentinel: DataFrame): Feed = {
    val dir = root.resolve(s"handoff-${runCounter.incrementAndGet()}")
    writeOrdered(df, tsCol, sentinel, 4, dir)
    new Feed(dir.toString, df.schema)
  }

  /** Build (once per JVM per version of `documents.parquet`, keyed like
    * [[source]]) a six-file documents replay feed for the STATELESS
    * document-gate replays. No ordering, no sentinel: a map/filter
    * stream has no watermark to feed, any file order replays to the
    * same multiset. */
  def docSource(spark: SparkSession, sfDir: String): Feed =
    docSources.getOrElseUpdate(graft.Tables.version(spark, sfDir, "documents"), synchronized {
      val batch = graft.Tables.documents(spark, sfDir)
      val dir = root.resolve(s"docsrc-${runCounter.incrementAndGet()}")
      batch.repartition(6)
        .write.mode("overwrite").parquet(dir.toString)
      new Feed(dir.toString, batch.schema)
    })

  private val docSources = scala.collection.concurrent.TrieMap[graft.Tables.Version, Feed]()

  /** Run one checkpointed FOREACH-BATCH replay over `feed`: each
    * microbatch DataFrame is handed to `each` — the pattern for
    * side-effecting sinks the built-in writers don't cover (incremental
    * materialized-view refresh, the text index's segment upserts). The
    * sink IS whatever state `each` maintains; returns the number of
    * microbatches that fired. foreachBatch invocations are serialized
    * by the engine, which is exactly the caller-serialization contract
    * `Catalog.refreshAggMv` requires. */
  def runForeachBatch(spark: SparkSession, feed: Feed,
      maxFilesPerTrigger: Int = 4)(each: (DataFrame, Long) => Unit): Long = {
    val runDir = root.resolve(s"run-${runCounter.incrementAndGet()}")
    val stream = spark.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feed.dir)
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = stream.writeStream
      .foreachBatch((df: DataFrame, id: Long) => { each(df, id); n.incrementAndGet(): Unit })
      .option("checkpointLocation", runDir.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    n.get()
  }
}
