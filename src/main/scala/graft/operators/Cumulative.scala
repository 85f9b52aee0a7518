package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Scale-safe cumulative scans over per-group VALUE-COUNT tables.
  *
  * The quantile/cume_dist/CCNet cutoff machinery all need "running sum
  * of counts in value order, per group" over a distinct-value table. A
  * plain `Window.partitionBy(group).orderBy(value)` computes that with
  * ONE window partition per group, sized by the group's distinct-value
  * count — fine when values are coarse, but LM scores are near-unique,
  * so a 100× single-language corpus turns the cutoff computation into
  * one task sorting O(docs) rows: the job's straggler.
  *
  * This is the value-ordered sibling of `Sampling.prefixSum`'s
  * two-level scan (there the bucket is the top bits of the order HASH;
  * here the order is a data value, so the bucket must be monotone in
  * the VALUE instead): bucket each distinct value with
  * `width_bucket(v, min, max, n)` over per-group min/max — monotone in
  * v by construction, so (group, bucket, value) order equals
  * (group, value) order — then run n-way-parallel per-bucket running
  * sums and add back one bounded per-group bucket-offset cumsum
  * (≤ nBuckets+2 rows per group — bounded metadata, never the value
  * table). The corpus-sized table is touched by exactly one exchange
  * (the bucketed window's) plus one tiny broadcast join.
  */
object Cumulative {

  /** Value buckets per group of every running form. */
  private val Buckets = 128

  /** The bucket prelude every running form shares: `vc` joined to its
    * per-group value min/max and given `__bk` = the value's
    * `width_bucket` between them — bucket 1 for a group whose values
    * are all equal (min == max: zero-width buckets, the single-row
    * case the offset scan handles trivially) — plus the in-bucket
    * window (group and bucket, value order, rows from the bucket's
    * first through `inBucketEnd` relative to the current one) and the
    * offset window over the group's earlier buckets. */
  private def bucketed(vc: DataFrame, groupCols: Seq[String], valueCol: String,
      nBuckets: Int, inBucketEnd: Long): (DataFrame, WindowSpec, WindowSpec) = {
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val bounds = vc.groupBy(g: _*)
      .agg(min(v).as("__bmin"), max(v).as("__bmax"))
    val base = vc.join(broadcast(bounds), groupCols)
      .withColumn("__bk",
        when(col("__bmin") === col("__bmax"), lit(1))
          .otherwise(width_bucket(v, col("__bmin"), col("__bmax"),
            lit(nBuckets))))
      .drop("__bmin", "__bmax")
    val inBucket = Window
      .partitionBy(g :+ col("__bk"): _*)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, inBucketEnd)
    val offW = Window.partitionBy(g: _*).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    (base, inBucket, offW)
  }

  /** Append `outCol` = Σ cnt over rows of the same group with value ≤
    * this row's value (inclusive running sum in value order). `vc` must
    * have one row per (group, value) — the caller's value-count
    * aggregate guarantees that, which is also what makes the in-bucket
    * `orderBy(value)` a total order. Exact: bucketing only RE-PARTITIONS
    * the scan; every count flows through integer sums, so the result is
    * bit-identical to the single-window form. */
  def runningSum(vc: DataFrame, groupCols: Seq[String], valueCol: String,
      cntCol: String, outCol: String, nBuckets: Int = Buckets): DataFrame = {
    val g = groupCols.map(col)
    val (base, inBucket, offW) =
      bucketed(vc, groupCols, valueCol, nBuckets, Window.currentRow)
    val offsets = base.groupBy(g :+ col("__bk"): _*)
      .agg(sum(col(cntCol)).as("__bt"))
      .withColumn("__boff", coalesce(sum(col("__bt")).over(offW), lit(0L)))
      .select(g :+ col("__bk") :+ col("__boff"): _*)
    base
      .withColumn("__cin", sum(col(cntCol)).over(inBucket))
      .join(broadcast(offsets), groupCols :+ "__bk")
      .withColumn(outCol, col("__boff") + col("__cin"))
      .drop("__bk", "__cin", "__boff")
  }

  /** Multi-column sibling of [[runningSum]]: running sums of SEVERAL
    * count columns in ONE bucketed window pass (`cntOutPairs` maps each
    * input count column to its output name). The cost of the two-level
    * scan is the exchange + in-bucket sort, not the summed column count
    * — an operator needing k prefixes (CUSUM needs the value prefix AND
    * the rank prefix) pays one scan instead of k. Semantics per column
    * are exactly [[runningSum]]'s. */
  def runningSums(vc: DataFrame, groupCols: Seq[String], valueCol: String,
      cntOutPairs: Seq[(String, String)]): DataFrame = {
    val g = groupCols.map(col)
    val (base, inBucket, offW) =
      bucketed(vc, groupCols, valueCol, Buckets, Window.currentRow)
    val offsets = base.groupBy(g :+ col("__bk"): _*)
      .agg(sum(col(cntOutPairs.head._1)).as(s"__bt0"),
        cntOutPairs.tail.zipWithIndex.map { case ((c, _), i) =>
          sum(col(c)).as(s"__bt${i + 1}") }: _*)
      .select(
        (g :+ col("__bk")) ++ cntOutPairs.indices.map(i =>
          coalesce(sum(col(s"__bt$i")).over(offW), lit(0L)).as(s"__boff$i")): _*)
    val withIn = cntOutPairs.zipWithIndex.foldLeft(base) {
      case (df, ((c, _), i)) =>
        df.withColumn(s"__cin$i", sum(col(c)).over(inBucket))
    }
    val joined = withIn.join(broadcast(offsets), groupCols :+ "__bk")
    val withOut = cntOutPairs.zipWithIndex.foldLeft(joined) {
      case (df, ((_, out), i)) =>
        df.withColumn(out, col(s"__boff$i") + col(s"__cin$i"))
    }
    withOut.drop("__bk" +: cntOutPairs.indices
      .flatMap(i => Seq(s"__cin$i", s"__boff$i")): _*)
  }

  /** EXCLUSIVE running MIN sibling of [[runningSum]]: append `outCol` =
    * min of `mCol` over rows of the same group with value STRICTLY
    * BELOW this row's value (null when no such row — the caller's
    * null-is-not-dominating semantics). Same two-level bucket-monotone
    * shape: per-bucket exclusive-frame windows in parallel, plus one
    * bounded per-group bucket-offset scan (≤ nBuckets+2 rows) whose
    * exclusive min is `least`-merged back — `least` skips nulls, which
    * is exactly the empty-prefix semantics. `vc` must have one row per
    * (group, value). */
  def runningMin(vc: DataFrame, groupCols: Seq[String], valueCol: String,
      mCol: String, outCol: String, nBuckets: Int = Buckets): DataFrame = {
    val g = groupCols.map(col)
    val (base, inBucket, offW) =
      bucketed(vc, groupCols, valueCol, nBuckets, -1)
    val offsets = base.groupBy(g :+ col("__bk"): _*)
      .agg(min(col(mCol)).as("__bt"))
      .withColumn("__boff", min(col("__bt")).over(offW))
      .select(g :+ col("__bk") :+ col("__boff"): _*)
    base
      .withColumn("__cin", min(col(mCol)).over(inBucket))
      .join(broadcast(offsets), groupCols :+ "__bk")
      .withColumn(outCol, least(col("__boff"), col("__cin")))
      .drop("__bk", "__cin", "__boff")
  }
}
