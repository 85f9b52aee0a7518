package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document repetition signals (Gopher-style): type-token
  * ratio, top-word fraction, top-bigram fraction — ONE compiled pass
  * over the token array.
  *
  * These statistics are strictly per-document, yet the aggregate
  * formulation paid TWO corpus-wide (doc_id, gram) shuffles (words +
  * bigrams) to compute them. Row-local counting deletes both — the
  * whole operator becomes a scan projection. Arithmetic matches the
  * aggregate/oracle form exactly: integer counts, the same
  * double divisions, the same floor(x·10⁶+0.5)/10⁶ rounding
  * ([[Exact.round6]]); grams are compared as STRINGS (bigrams by their
  * space-joined text), so ties and distinctness agree with the SQL
  * mirror byte-for-byte.
  *
  * Null for empty token arrays (the explode path emitted no row);
  * `top_2gram_frac` is 0.0 for single-token docs (the left-join
  * fill-0 path).
  *
  * Registered as SQL `repetition_stats(tokens)` via [[GraftExtensions]].
  */
case class RepetitionStats(children: Seq[Expression]) extends NativeKernel {

  private def tkChild = children(0)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("ttr", DoubleType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false),
    StructField("top_2gram_frac", DoubleType, nullable = false)))

  override protected def kernelNulls: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 1) fail("repetition_stats expects (tokens)")
    else tkChild.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected array<string>, got $other")
    }
  }

  private def round6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0

  override protected def rowInputs: Seq[Expression] = children.take(1)
  override protected def kernelName: String = "stats"
  override protected def callKernel(in: Seq[Any]): Any = stats(in.head.asInstanceOf[ArrayData])

  def stats(a: ArrayData): InternalRow = {
    val n = a.numElements()
    if (n == 0) return null
    val words = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
    var topW = 0
    var i = 0
    while (i < n) {
      val w = a.getUTF8String(i)
      var c = words.get(w)
      if (c == null) { c = new Array[Int](1); words.put(w, c) }
      c(0) += 1
      if (c(0) > topW) topW = c(0)
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    var top2 = 0
    if (n >= 2) {
      val bigrams = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
      i = 0
      while (i < n - 1) {
        val g = UTF8String.concatWs(sep, a.getUTF8String(i), a.getUTF8String(i + 1))
        var c = bigrams.get(g)
        if (c == null) { c = new Array[Int](1); bigrams.put(g, c) }
        c(0) += 1
        if (c(0) > top2) top2 = c(0)
        i += 1
      }
    }
    val nD = n.toDouble
    InternalRow(n.toLong,
      round6(words.size().toDouble / nD),
      round6(topW.toDouble / nD),
      if (n >= 2) round6(top2.toDouble / (n - 1).toDouble) else 0.0)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object RepetitionStats {
  def repetitionStats(tokens: Column): Column = call_function("repetition_stats", tokens)
}
