package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native row-local 60-bit SimHash: per-token portable hash (first 15
  * hex chars of md5, parsed base-16 — bit-identical to
  * [[graft.operators.TextAnalysis.portableHash60]], so the output stays
  * DuckDB-verifiable), per-bit majority vote over token OCCURRENCES,
  * one compiled pass per row.
  *
  * Same motive as [[MinHashSig]]: the aggregate formulation exploded
  * every token into a (doc_id, hash) row and shuffled ALL of them into
  * a 60-bit-sum groupBy — at scale the token exchange IS the cost.
  * This makes simhash signing a map-only projection (and usable in a
  * stream). Null for empty token arrays — the same "no signature row"
  * semantics the explode path had.
  *
  * Registered as SQL `simhash_sig(tokens)` via [[GraftExtensions]].
  */
case class SimHashSig(children: Seq[Expression]) extends NativeKernel {

  private def tkChild = children(0)

  override def dataType: DataType = LongType
  override protected def kernelNulls: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 1) fail("simhash_sig expects (tokens)")
    else tkChild.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected array<string>, got $other")
    }
  }

  /** First 15 hex chars of md5(bytes) parsed base-16 — exactly
    * `conv(substring(md5(x),1,15),16,10)` (shared digest kernel). */
  private def hash60(bytes: Array[Byte]): Long = PortableHash60.hash60(bytes)

  override protected def rowInputs: Seq[Expression] = children.take(1)
  override protected def kernelName: String = "sign"
  override protected def callKernel(in: Seq[Any]): Any = sign(in.head.asInstanceOf[ArrayData])

  /** The 60-bit fingerprint, or [[NativeKernel.NullLong]] (null) for an
    * empty token array. */
  def sign(a: ArrayData): Long = {
    val n = a.numElements()
    if (n == 0) return NativeKernel.NullLong
    val ones = new Array[Int](60)
    var i = 0
    while (i < n) {
      // null tokens count toward n (the aggregate path's count(*) did)
      // but contribute no bits (its per-token hash was null, and sum()
      // skips nulls) — and must not NPE
      val s = a.getUTF8String(i)
      if (s != null) {
        val h = hash60(s.getBytes)
        var j = 0
        while (j < 60) {
          ones(j) += ((h >>> j) & 1L).toInt
          j += 1
        }
      }
      i += 1
    }
    // bit j set iff ones strictly outnumber zeros: 2·ones > n
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (2 * ones(j) > n) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object SimHashSig {
  def simhashSig(tokens: Column): Column = call_function("simhash_sig", tokens)
}
