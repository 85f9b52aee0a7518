package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: the dyadic-decay fold
  * `Σ arr(i) << (i + depth − n)` over an `array<long>` frame of n ≤
  * depth elements (oldest first) — element n−1 (the current row)
  * weighs 2^(depth−1), each older element half that. This is the
  * per-row kernel of [[graft.operators.Events.ewmaDecayedSum]]; the
  * equivalent `transform`+`aggregate` higher-order pair is
  * CodegenFallback, and ONE interpreted expression ejects its whole
  * projection from whole-stage codegen (the library's round-2
  * `VectorFunctions.toDouble` lesson) — the Scala kernel `fold`, called
  * through the [[NativeKernel]] stub, keeps the EWMA projection fused.
  * Pure integer shifts and adds: exact in any evaluation order, same
  * bits as the HOF formulation (spec-pinned).
  *
  * `depth` must be a literal in 1..32 (the range `ewmaDecayedSum`
  * takes), so no shift count is negative or wraps; a frame longer than
  * `depth` throws. Registered as SQL `decayed_sum` via
  * [[GraftExtensions]].
  */
case class DecayedSum(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (!right.foldable) TypeCheckResult.TypeCheckFailure("depth must be a literal")
        else right.eval() match {
          case d: Int if d >= 1 && d <= 32 => TypeCheckResult.TypeCheckSuccess
          case d => TypeCheckResult.TypeCheckFailure(s"depth must be in 1..32, got $d")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"decayed_sum expects (array<bigint>, int), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  @transient private lazy val depth: Int = right.eval().asInstanceOf[Int]

  override protected def rowInputs: Seq[Expression] = Seq(left)
  override protected def kernelName: String = "fold"
  override protected def callKernel(in: Seq[Any]): Any = fold(in.head.asInstanceOf[ArrayData])

  def fold(frame: ArrayData): Long = {
    val n = frame.numElements()
    if (n > depth) throw new IllegalArgumentException(
      s"decayed_sum: frame holds $n elements, more than depth $depth")
    var acc = 0L; var i = 0
    while (i < n) { acc += frame.getLong(i) << (i + depth - n); i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DecayedSum {
  /** Column entry point; requires a [[GraftExtensions]] session. */
  def decayedSum(frame: Column, depth: Column): Column =
    call_function("decayed_sum", frame, depth)
}
