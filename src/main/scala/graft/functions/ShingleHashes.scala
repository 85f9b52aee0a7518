package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle hasher: the xxhash64 of every word n-gram of a token
  * array, as array<long>, in one compiled pass — the scan-stage front
  * of the whole shingle family (inverted-index Jaccard, containment,
  * boilerplate mining, decontamination).
  *
  * Replaces `explode(sequence(1, n_tokens−n+1))` + per-row
  * concat_ws/xxhash64: Generate copies its child row per output row, so
  * the TOKEN ARRAY was materialized once per shingle — O(tokens²) bytes
  * through the scan stage per document. Here the array is traversed
  * once and only the 8-byte hashes fan out (`explode` of the plain
  * long array). Hash values are IDENTICAL to
  * `xxhash64(concat_ws(" ", gram))` (same XXH64 kernel, same bytes),
  * so every downstream oracle is untouched. One hash per OCCURRENCE —
  * duplicate-sensitive consumers (`distinct()` callers, boilerplate
  * document frequency) see exactly the rows the explode produced.
  *
  * Empty result (instead of null) for docs shorter than one shingle —
  * mirroring "explode emits nothing".
  *
  * Registered as SQL `shingle_hashes(tokens, n)` via [[GraftExtensions]].
  */
case class ShingleHashes(children: Seq[Expression]) extends NativeKernel {

  private def tkChild = children(0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 2) fail("shingle_hashes expects (tokens, n)")
    else if (!children(1).foldable) fail("n must be a literal")
    else (tkChild.dataType, children(1).dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (children(1).eval() == null) fail("n must not be null")
        else TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected (array<string>, int), got $other")
    }
  }

  @transient private lazy val n: Int = children(1).eval().asInstanceOf[Int]
  @transient private lazy val sep = UTF8String.fromString(" ")

  override protected def rowInputs: Seq[Expression] = children.take(1)
  override protected def kernelName: String = "hashAll"
  override protected def callKernel(in: Seq[Any]): Any = hashAll(in.head.asInstanceOf[ArrayData])

  def hashAll(a: ArrayData): ArrayData = {
    val len = a.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) { window(j) = a.getUTF8String(i + j); j += 1 }
      out(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, window: _*), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ShingleHashes {
  def shingleHashes(tokens: Column, n: Int): Column =
    call_function("shingle_hashes", tokens, lit(n))
}
