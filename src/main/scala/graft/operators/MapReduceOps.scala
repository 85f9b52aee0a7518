package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Exact._

/** Spark-first re-expressions of the reference's MapReduce jobs.
  *
  * The reference runs map → TSV shuffle → external sort → grouped reduce
  * (reference: dfs/compute_engine/compute_engine.go:35,93,142;
  * dfs/external_sort/extsort.go). Here each job is a single declarative
  * plan: Catalyst gives map-side partial aggregation (the combiner the
  * reference lacks), hash exchange replaces the TSV shuffle, and range
  * partitioning + per-partition sort replaces the external sort — same
  * algorithm class, but cluster-wide and codegen'd.
  */
object MapReduceOps {

  /** Classic word count (reference: mapreduce_plugin_mock/word-count.go:56).
    * flatMap=explode(split) then count per word; HashAggregate does the
    * partial (map-side) aggregation before the single shuffle, so shuffle
    * volume is O(distinct words), not O(tokens) — critical at 100 TB.
    */
  def wordCount(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Per-key average (reference: mapreduce_plugin_mock/reviews.go:57 —
    * avg rating per brand). One shuffle on the key, partial sums map-side. */
  def avgByKey(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(moneyAvg(col(valCol)).as("avg_val"))

  /** Map-only selection (grep). The predicate is pushed into the parquet
    * scan; no shuffle at all. */
  def grep(docs: DataFrame, needle: String): DataFrame =
    docs
      .where(col("text").contains(needle))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Global total-order sort — the distributed analog of the reference's
    * external sort (reference: dfs/external_sort/extsort.go:27 sorted
    * runs + k-way merge). Spark's orderBy = range exchange (sampled
    * boundaries) + per-partition spill-aware sort: the same out-of-core
    * merge, but parallel across the cluster. Keys are read straight from
    * parquet (no float arithmetic), so the total order is engine-exact.
    */
  def sortedTopN(lineitem: DataFrame, n: Int): DataFrame =
    lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(n)

  /** Top-k words with deterministic tie-break. Spark turns sort+limit
    * into TakeOrderedAndProject — per-partition top-k then a k-sized
    * merge on the driver; no global sort materialized. */
  def topKWords(docs: DataFrame, k: Int): DataFrame =
    wordCount(docs)
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Distinct keys — the dedup shuffle. */
  def distinctKeys(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_returnflag"), col("l_linestatus")).distinct()

  /** Secondary sort — the reference reducer's contract (each reducer
    * reads its keys' records in sorted order; reference:
    * dfs/external_sort/extsort.go feeding compute_engine.go RunReducer):
    * hash-partition by key, then sort WITHIN partitions by (key,
    * ordering cols). One exchange + a spill-aware per-partition sort —
    * no global total order is materialized, which is exactly why the
    * pattern scales: reducers never coordinate. */
  def secondarySort(df: DataFrame, key: String, order: String*): DataFrame =
    df.repartition(col(key))
      .sortWithinPartitions(col(key) +: order.map(col): _*)
}
