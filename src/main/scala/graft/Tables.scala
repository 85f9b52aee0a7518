package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the test star schema (TPC-H-ish) + events/documents/
  * embeddings. One parquet file per table under a scale-factor dir.
  *
  * Spark-first analog of the reference DFS's controller file index
  * (reference: dfs/controller/fileIndex.go) — table name → storage
  * location; the parquet reader replaces chunked retrieval
  * (reference: dfs/client/downloader.go). Like that index, it keeps
  * what it learned about each file: a table's schema is resolved ONCE
  * per session per file version. A bare `spark.read.parquet` infers
  * the schema by launching a Spark job that reads the footers, so
  * every table read paid a job before the query's own work began
  * (30 of the 81 jobs of a traced `query_mix` run); a load through
  * [[load]] launches none once the file is known.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table's file version: its path plus the sorted (path, length,
    * modification time) of its data files (see [[load]]). */
  private[graft] type Version = (String, Seq[(String, Long, Long)])
  /** Inferred schemas per session, keyed by file version (see [[load]]).
    * Weak in the session: a stopped session and its entries go away. */
  private val schemas = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Version, StructType]]

  /** Table `name` under `sfDir` (`<sfDir>/<name>.parquet`, a file or a
    * directory of part files), read with a schema resolved once per
    * session and file version. The key is the path plus the sorted
    * (path, length, modification time) of the data files Spark would
    * read: the file itself, or every file under the directory whose
    * relative path has no `_`- or `.`-prefixed component. A rewrite or
    * an overwrite that writes new part files therefore gets a new key
    * and is inferred again. The cache is per session because parquet
    * inference reads session confs (`nanosAsLong`, `inferTimestampNTZ`).
    *
    * The one rewrite the key cannot see: the same path rewritten to the
    * same length within the filesystem's modification-time granularity
    * (1 ms on the local filesystem, 1 s on some others). Such a rewrite
    * is read with the schema of the file it replaced. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val perSession = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    val key = version(spark, sfDir, name)
    val schema = Option(perSession.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      perSession.put(key, inferred)
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The file version of table `name` under `sfDir`: the key of
    * [[load]]'s schema cache and of the replay sources built from the
    * table (`streaming.Replay`). */
  private[graft] def version(spark: SparkSession, sfDir: String, name: String): Version = {
    val path = s"$sfDir/$name.parquet"
    (path, dataFiles(spark, path))
  }

  /** The sorted (path, length, mtime) of the data files under `path`;
    * empty when it does not exist (inference then raises Spark's own
    * error, and nothing is cached). */
  private def dataFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = try fs.getFileStatus(p) catch { case _: FileNotFoundException => return Nil }
    val files =
      if (root.isFile) Iterator(root)
      else {
        val it = fs.listFiles(p, true)
        val prefix = root.getPath.toString
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filterNot(_.getPath.toString.stripPrefix(prefix).split('/')
            .exists(c => c.startsWith("_") || c.startsWith(".")))
      }
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  /** Spread a SMALL-SPLIT input across the session's cores before a
    * compute-heavy stage. The local test tables are single-row-group
    * parquet files — unsplittable, so a heavy map stage over them
    * (signing, shingling, cosine pair scans, codec work) would
    * otherwise run on ONE task of a 32-thread session; measured round
    * 9: `s_knn_graph` 5.9 → 1.4 s, `s_silhouette` 4.4 → 1.5 s,
    * `t_char_ngrams` 2.4 → 0.7 s from exactly this. Guard rails, both
    * measured:
    *  - SELF-DISABLING at scale (> 64 MB): a production table splits
    *    on its own; the corpus is never shuffled.
    *  - FLOOR (≤ 256 KB skips): spreading a tiny frame (a benchmark
    *    side, a fixture) buys nothing and costs a stage.
    *  - Applied per OPERATOR at the compute-heavy stages — a blanket
    *    loader-level spread measured +12 s across the light-aggregate
    *    q family against −9 s of wins elsewhere, because an input
    *    exchange ahead of work that immediately re-shuffles on its own
    *    keys is pure latency. (`events` is the loader-level exception:
    *    its user_id spread partitioning is REUSED by the immediate
    *    per-user groupBy/window in most event queries.)
    * Probes LOGICAL stats (file-index bytes — no job; probing
    * `df.rdd` forces a full physical plan per call and cost more
    * driver time than the exchange it added). Hash-partitioned on
    * `key` (round-robin repartition sorts every row for retry
    * determinism); filters and column pruning push through the
    * exchange to the scan. */
  def spreadSmall(df: DataFrame, key: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes > (256L << 10) && bytes <= (64L << 20))
      df.repartition(sc.defaultParallelism, col(key))
    else df
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  // o_orderdate / l_shipdate are timestamp columns from the same
  // generator as events.ts — normalize their flavor at the edge too
  // (round 4 broke on a silent events regeneration; these two would
  // break the same way)
  // orders/lineitem are NOT spread: the q-family's per-row compute is
  // light aggregate work that shuffles on its own keys almost
  // immediately, so the input exchange is pure added latency —
  // measured +12 s across the 57-entry q family vs −9 s of wins on
  // the compute-heavy documents/embeddings/events families
  def orders(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "lineitem"), "l_shipdate")
  /** `events.ts` has shipped in three parquet flavors across testdata
    * generations; normalize all of them to µs-precision TIMESTAMP (LTZ)
    * so `unix_micros` and `withWatermark` consumers always analyze:
    *  - TIMESTAMP(NANOS), readable only as a long under
    *    spark.sql.legacy.parquet.nanosAsLong → exact integer division
    *    (ns values exceed double's 2^53 mantissa — never divide as double);
    *  - timestamp[us] without isAdjustedToUTC, inferred as TIMESTAMP_NTZ
    *    → cast to TimestampType, exact under the session's UTC timezone;
    *  - timestamp[us] UTC-adjusted → already TimestampType, pass through. */
  def events(spark: SparkSession, dir: String): DataFrame =
    spreadSmall(normalizeTs(load(spark, dir, "events")), "user_id")

  /** Flavor-normalize a `ts` column to TIMESTAMP (LTZ); see [[events]]. */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame =
    raw.schema(tsCol).dataType match {
      case LongType =>
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }
  // documents/embeddings are not spread at the loader: the compute-
  // heavy operators over them spread their own heavy stage via
  // [[spreadSmall]], and the light consumers (sampling, cards, the
  // pin-managed corpus-prep pipeline) measured a net loss paying an
  // input exchange they don't use
  def documents(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")
}
