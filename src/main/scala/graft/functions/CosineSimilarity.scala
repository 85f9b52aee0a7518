package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

import scala.reflect.ClassTag

/** Native Catalyst expression: cosine similarity of two array<double>
  * vectors of equal length in a single pass (dot and both norms in one
  * loop). Vectors of different lengths throw, naming both lengths, as
  * DuckDB's `list_cosine_similarity` does.
  *
  * The loop is the Scala kernel `cosine`; interpreted `eval` and the
  * generated code both call it through the [[NativeKernel]] stub, so
  * scoring stays inside whole-stage codegen with no per-element
  * Expression dispatch while remaining a first-class Column usable in
  * any plan (joins, windows, filters). Registered as SQL function
  * `cosine_sim` via [[GraftExtensions]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    CosineSimilarity.checkVectors("cosine_sim", left, right)

  override protected def rowInputs: Seq[Expression] = children
  override protected def kernelName: String = "cosine"
  override protected def callKernel(in: Seq[Any]): Any =
    cosine(in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData])

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = CosineSimilarity.sameLength("cosine_sim", x, y)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-level entry point; requires a session built with
    * [[GraftExtensions]] (Graft.session does this). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Native dot product (see [[DotProduct]]). */
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Both arguments of `fn` must be array<double>. */
  private[functions] def checkVectors(fn: String, left: Expression,
      right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** The common length of `fn`'s two vectors; throws when they differ. */
  private[functions] def sameLength(fn: String, x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$fn: vector lengths differ ($n vs ${y.numElements()})")
    n
  }
}

/** Native Catalyst expression: dot product of two array<double> vectors
  * of equal length. Same design as [[CosineSimilarity]] — one Scala
  * kernel loop called through the [[NativeKernel]] stub instead of a
  * dim-unrolled expression tree, so plans stay small and codegen
  * compiles fast at any dimension; different lengths throw. Registered
  * as SQL `dot_product`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    CosineSimilarity.checkVectors("dot_product", left, right)

  override protected def rowInputs: Seq[Expression] = children
  override protected def kernelName: String = "dot"
  override protected def callKernel(in: Seq[Any]): Any =
    dot(in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData])

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = CosineSimilarity.sameLength("dot_product", x, y)
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extensions registering graft's native SQL functions and its
  * table functions. No optimizer rule or planner strategy is
  * injected: Spark's own optimizer and planner plan every query.
  * Wire with `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach(f => ext.injectFunction(f))
    TableFunctions.register(ext)
  }
}

object GraftExtensions {
  /** One row per native SQL function: its name and its builder. */
  private def row[T <: Expression](name: String)(build: Seq[Expression] => T)(
      implicit t: ClassTag[T]): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(t.runtimeClass.getName, name), build)

  private val Functions = Seq(
    row("cosine_sim")(e => CosineSimilarity(e(0), e(1))),
    row("dot_product")(e => DotProduct(e(0), e(1))),
    row("nearest_cells")(NearestCells(_)),
    row("hit_count")(HitCount(_)),
    row("portable_hash60")(PortableHash60(_)),
    row("repetition_stats")(RepetitionStats(_)),
    row("shingle_hashes")(ShingleHashes(_)),
    row("simhash_sig")(SimHashSig(_)),
    row("minhash_sig")(MinHashSig(_)),
    row("bloom_contains")(BloomContains(_)),
    row("decayed_sum")(e => DecayedSum(e(0), e(1))))
}
