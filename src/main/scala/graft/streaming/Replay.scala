package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared infrastructure for the ORACLE-VISIBLE streaming replays: a
  * file-source copy of the events table that every replay streams from,
  * written ONCE per JVM session (Verify/Bench run 3–4 replay queries —
  * and Bench 3 passes of each — so per-replay source writes were both
  * the dominant replay cost and a /tmp leak).
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
  */
object Replay {

  /** Superset replay source: every replay selects its columns from
    * this schema. */
  final case class Source(dir: String, schema: StructType, maxTsu: Long,
      sentinelUser: Long)

  private val runCounter = new AtomicInteger(0)

  /** Serializes the provider-conf set → start() → restore window of
    * [[runToDir]] (the provider is captured from the session conf at
    * query START, so that window must exclude concurrent starts). */
  private val providerScopeLock = new Object
  private val sources = scala.collection.concurrent.TrieMap[String, Source]()

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

  /** Build (once per JVM per sfDir) the ordered replay source. */
  def source(spark: SparkSession, sfDir: String): Source =
    sources.getOrElseUpdate(sfDir, synchronized {
      import spark.implicits._
      val batch = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("tsu"), col("ts"))
      val (maxTsu, maxUser) = batch
        .agg(max(col("tsu")), max(col("user_id"))).as[(Long, Long)].head()
      val dir = root.resolve(s"src-${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
      val sentinelUser = maxUser + 1L
      val sentTsu = maxTsu + 6L * 3600L * 1000000L
      val sentinel = Seq((-1L, sentinelUser, "view", 0.0, sentTsu))
        .toDF("event_id", "user_id", "event_type", "value", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
      writeOrdered(batch, "tsu", sentinel, 8, dir)
      Source(dir.toString, batch.schema, maxTsu, sentinelUser)
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

  /** Run one checkpointed file-to-file replay of `build(stream)` over
    * the shared source and read the sink back as a batch DataFrame.
    * `maxFilesPerTrigger` controls microbatch granularity — any value
    * is correct (see ordering note above); the default replays the
    * source as 3 genuine microbatches (4+4 range files, then the
    * sentinel). */
  def run(spark: SparkSession, src: Source, maxFilesPerTrigger: Int = 4,
      stateStoreProvider: Option[String] = None)(
      build: DataFrame => DataFrame): DataFrame =
    runFrom(spark, src.dir, src.schema, maxFilesPerTrigger,
      stateStoreProvider)(build)

  /** The generic file-source replay behind [[run]]: any parquet dir +
    * schema. STATELESS transforms (map/filter gates) need no event-time
    * ordering or sentinel, so sources other than the ordered events
    * copy can use this directly. */
  def runFrom(spark: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Int = 4,
      stateStoreProvider: Option[String] = None)(
      build: DataFrame => DataFrame): DataFrame =
    spark.read.parquet(
      runToDir(spark, srcDir, schema, maxFilesPerTrigger,
        stateStoreProvider)(build))

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

  /** [[runFrom]] returning the SINK DIRECTORY instead of reading it
    * back — the hook for CHAINED streaming jobs (stage 2 streams from
    * stage 1's committed sink, the standard pipeline-of-streams
    * production pattern). */
  def runToDir(spark: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Int = 4,
      stateStoreProvider: Option[String] = None)(
      build: DataFrame => DataFrame): String = {
    val runDir = root.resolve(s"run-${runCounter.incrementAndGet()}")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    // the state-store provider is captured from the session conf when
    // the query STARTS (it rides in the checkpoint from then on), so
    // scoping the conf around start() pins it per-replay without
    // leaking into the session: at 100 TB session/top-k state the
    // production choice is RocksDB
    // (org.apache.spark.sql.execution.streaming.state
    // .RocksDBStateStoreProvider — disk-backed, incremental-checkpoint)
    // while small-state replays keep the default in-memory HDFS-backed
    // provider
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    // shuffle partitions are likewise captured at query START (pinned
    // in the checkpoint's OffsetSeqMetadata from then on), so the same
    // scoped set/start/restore window applies the bytes-derived state
    // partition count to THIS replay without leaking into the session's
    // batch queries
    val partsKey = "spark.sql.shuffle.partitions"
    // the set/start/restore window is serialized: a CONCURRENT start in
    // the same session during that window would capture the scoped
    // provider (or have its own restore clobbered) — the lock makes the
    // scoping safe by construction instead of by the replays happening
    // to run serially
    val q = providerScopeLock.synchronized {
      val previous = spark.conf.getOption(confKey)
      val prevParts = spark.conf.getOption(partsKey)
      stateStoreProvider.foreach(spark.conf.set(confKey, _))
      spark.conf.set(partsKey, streamShufflePartitions(spark, srcDir).toString)
      try build(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", runDir.resolve("ckpt").toString)
        .outputMode("append")
        .start(runDir.resolve("out").toString)
      finally {
        if (stateStoreProvider.isDefined) previous match {
          case Some(v) => spark.conf.set(confKey, v)
          case None => spark.conf.unset(confKey)
        }
        prevParts match {
          case Some(v) => spark.conf.set(partsKey, v)
          case None => spark.conf.unset(partsKey)
        }
      }
    }
    try q.processAllAvailable() finally q.stop()
    runDir.resolve("out").toString
  }

  /** Fully-qualified class name of Spark's RocksDB state-store
    * provider — the disk-backed store whose state size is bounded by
    * local disk instead of executor heap. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

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
  def orderedHandoff(df: DataFrame, tsCol: String,
      sentinel: DataFrame): (String, StructType) = {
    val dir = root.resolve(s"handoff-${runCounter.incrementAndGet()}")
    writeOrdered(df, tsCol, sentinel, 4, dir)
    (dir.toString, df.schema)
  }

  /** Build (once per JVM per sfDir) a six-file documents replay
    * source for the STATELESS document-gate replays. No ordering, no
    * sentinel: a map/filter stream has no watermark to feed, any file
    * order replays to the same multiset. */
  def docSource(spark: SparkSession, sfDir: String): (String, StructType) =
    docSources.getOrElseUpdate(sfDir, synchronized {
      val batch = graft.Tables.documents(spark, sfDir)
      val dir = root.resolve(
        s"docsrc-${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
      batch.repartition(6)
        .write.mode("overwrite").parquet(dir.toString)
      (dir.toString, batch.schema)
    })

  private val docSources =
    scala.collection.concurrent.TrieMap[String, (String, StructType)]()

  /** Run one checkpointed FOREACH-BATCH replay over the shared source:
    * each microbatch DataFrame is handed to `each` — the pattern for
    * side-effecting sinks the built-in writers don't cover (here:
    * incremental materialized-view refresh). The sink IS whatever
    * state `each` maintains; returns the number of microbatches that
    * fired. foreachBatch invocations are serialized by the engine,
    * which is exactly the caller-serialization contract
    * `Catalog.refreshAggMv` requires. */
  def runForeachBatch(spark: SparkSession, src: Source,
      maxFilesPerTrigger: Int = 4)(each: (DataFrame, Long) => Unit): Long =
    runForeachBatchFrom(spark, src.dir, src.schema, maxFilesPerTrigger)(each)

  /** [[runForeachBatch]] over ANY file-source directory (the
    * [[docSource]] case): the MV-maintenance drive decoupled from the
    * events projection, so document-fed artifacts (the text index)
    * replay through the same checkpointed machinery. */
  def runForeachBatchFrom(spark: SparkSession, srcDir: String,
      schema: StructType, maxFilesPerTrigger: Int = 4)(
      each: (DataFrame, Long) => Unit): Long = {
    val runDir = root.resolve(s"run-${runCounter.incrementAndGet()}")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = stream.writeStream
      .foreachBatch((df: DataFrame, id: Long) => { each(df, id); n.incrementAndGet(): Unit })
      .option("checkpointLocation", runDir.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    n.get()
  }
}
