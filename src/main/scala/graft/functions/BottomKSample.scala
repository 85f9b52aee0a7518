package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bottom-k-by-hash uniform sample — the quantile counterpart of
  * [[KmvSketch]].
  *
  * Keeping the k rows with the SMALLEST portable hashes per group is a
  * uniform random sample of the group (each row's hash is an iid
  * uniform draw), in a bounded mergeable buffer: ≤k (hash, value)
  * pairs per group per task ride the shuffle, and merging two buffers
  * is a linear merge — the sample stays exchangeable across any
  * partitioning. Quantiles interpolated from the sample estimate the
  * group quantiles with the usual √k sampling error.
  *
  * Like KMV (and unlike KLL/GK sketches, whose compaction schedule is
  * engine-private), the state is reproducible by ANY engine with md5
  * and a window function: `row_number() OVER (ORDER BY hash) ≤ k`,
  * so sketch state AND estimates are value-verifiable cross-engine.
  */
object BottomKSample {

  /** Buffer invariant: ascending by hash, length ≤ k, distinct hashes.
    * Two rows sharing a hash (a ~n²/2⁶¹ collision) keep the SMALLER
    * value, so the buffer is a pure function of the input SET —
    * deterministic under any partitioning or arrival order (first-seen
    * semantics would not be), and mirrored in SQL as
    * `GROUP BY hash → min(value)` before the window rank. */
  case class BottomK(k: Int)
      extends Aggregator[(Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    override def zero: Seq[(Long, Double)] = Vector.empty
    override def reduce(buf: Seq[(Long, Double)], v: (Long, Double)): Seq[(Long, Double)] =
      if (buf.length >= k && v._1 > buf.last._1) buf
      else {
        val i = buf.indexWhere(v._1 <= _._1)
        if (i >= 0 && buf(i)._1 == v._1)
          if (v._2 < buf(i)._2) buf.updated(i, v) else buf
        else {
          val at = if (i < 0) buf.length else i
          val ins = (buf.take(at) :+ v) ++ buf.drop(at)
          if (ins.length > k) ins.take(k) else ins
        }
      }
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] = {
      val out = Vector.newBuilder[(Long, Double)]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < a.length || j < b.length)) {
        if (i < a.length && j < b.length && a(i)._1 == b(j)._1) {
          out += ((a(i)._1, math.min(a(i)._2, b(j)._2))); i += 1; j += 1
        } else if (j >= b.length || (i < a.length && a(i)._1 < b(j)._1)) {
          out += a(i); i += 1
        } else { out += b(j); j += 1 }
        n += 1
      }
      out.result()
    }
    override def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf
    override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
    override def outputEncoder: Encoder[Seq[(Long, Double)]] = bufferEncoder
  }

  /** bottomK(hash, value, k) as an aggregate Column (a tuple-input
    * Aggregator takes its fields as separate args); result is an array
    * of (hash `_1`, value `_2`) structs ascending by hash. */
  def bottomK(hash: Column, value: Column, k: Int): Column =
    udaf(BottomK(k)).apply(hash, value)

  /** Linear-interpolated p-quantile of the SAMPLE VALUES in a bottom-k
    * buffer. The sample is sorted by value first (array_sort on the
    * doubles); the interpolation h = p·(n-1) is the standard "type 7"
    * rule and every step is a single exact double expression, mirrored
    * verbatim in SQL. */
  def sampleQuantile(buf: Column, p: Double): Column = {
    val vals = array_sort(transform(buf, x => x.getField("_2")))
    val n = size(vals)
    val h = lit(p) * (n.cast("double") - 1.0)
    val lo = floor(h).cast("int")
    val hi = least(lo + 1, n - 1)
    when(n === 0, lit(null).cast("double")).otherwise(
      element_at(vals, lo + 1) +
        (h - lo.cast("double")) * (element_at(vals, hi + 1) - element_at(vals, lo + 1)))
  }

  // NOTE: a BottomKIds (hash, id) selection twin of BottomK was built
  // for per-group capping and DELETED: Spark 4's InferWindowGroupLimit
  // already turns `row_number() ≤ k` into a bounded PARTIAL group-limit
  // before the exchange (same O(groups×k) map-side bound), stays in
  // whole-stage codegen, and beat the typed aggregate 4× in the
  // many-group regime. See Sampling.capPerGroup.
}
