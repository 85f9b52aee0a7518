package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native nearest-centroid assignment: for a vector column, the ids of
  * the `take` most cosine-similar centroids from a CONSTANT centroid
  * set (ties → smaller id), as array<long> in similarity order.
  *
  * The centroid set rides into the expression as foldable literals and
  * is unpacked ONCE (norms precomputed) per executor — so cell
  * assignment is a map-only projection inside whole-stage codegen:
  * zero shuffle, zero join. This is what makes IVF index builds and
  * SemDeDup clustering scan-shaped at 100 TB; the aggregate/join
  * formulation this replaced shuffled one combined row per corpus
  * vector (measured: 100k-vector index build 29 s → scan-bound).
  * Centroid counts are bounded by design (a coarse quantizer wants
  * n/2000-ish cells), so the literal stays broadcast-metadata-sized —
  * same class as the LSH hyperplane literals.
  *
  * Registered as SQL `nearest_cells(v, centroids, ids, take)` via
  * [[GraftExtensions]].
  */
case class NearestCells(children: Seq[Expression]) extends NativeKernel {

  private def vChild = children(0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 4)
      fail("nearest_cells expects (v, centroids, ids, take)")
    else if (vChild.dataType != ArrayType(DoubleType, false) &&
      vChild.dataType != ArrayType(DoubleType, true))
      fail(s"v must be array<double>, got ${vChild.dataType.simpleString}")
    else if (!children.drop(1).forall(_.foldable))
      fail("centroids, ids and take must be literals")
    else (children(1).dataType, children(2).dataType, children(3).dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected (array<array<double>>, array<long>, int), got $other")
    }
  }

  /** Constant state, unpacked once per task from the literal children. */
  @transient private lazy val cents: Array[Array[Double]] = {
    val arr = children(1).eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i =>
      arr.getArray(i).toDoubleArray())
  }
  @transient private lazy val centNorms: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum))
  @transient private lazy val ids: Array[Long] =
    children(2).eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val take: Int = children(3).eval().asInstanceOf[Int]

  override protected def rowInputs: Seq[Expression] = children.take(1)
  override protected def kernelName: String = "pick"
  override protected def callKernel(in: Seq[Any]): Any = pick(in.head.asInstanceOf[ArrayData])

  /** Top-`take` cells by (cosine desc, id asc) — bounded insertion over
    * the constant centroid list. */
  def pick(a: ArrayData): ArrayData = {
    val v = a.toDoubleArray()
    var nv = 0.0
    var i = 0
    while (i < v.length) { nv += v(i) * v(i); i += 1 }
    val vNorm = math.sqrt(nv)
    val n = math.min(take, cents.length)
    val simBuf = Array.fill(n)(Double.NegativeInfinity)
    val idBuf = Array.fill(n)(Long.MaxValue)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val m = math.min(v.length, cv.length)
      var dot = 0.0
      var j = 0
      while (j < m) { dot += v(j) * cv(j); j += 1 }
      // zero-norm vector or centroid: cosine is undefined; use -1.0
      // (a finite floor) so insertion still runs and such vectors land
      // deterministically in the smallest-id cells instead of the
      // Long.MaxValue sentinel a NaN comparison chain would leave
      val den = vNorm * centNorms(c)
      val sim = if (den == 0.0) -1.0 else dot / den
      val id = ids(c)
      // insertion position: strictly better sim, or equal sim + smaller id
      var at = n
      var k = n - 1
      while (k >= 0 && (sim > simBuf(k) || (sim == simBuf(k) && id < idBuf(k)))) {
        at = k; k -= 1
      }
      if (at < n) {
        var s = n - 1
        while (s > at) { simBuf(s) = simBuf(s - 1); idBuf(s) = idBuf(s - 1); s -= 1 }
        simBuf(at) = sim; idBuf(at) = id
      }
      c += 1
    }
    new GenericArrayData(idBuf)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object NearestCells {
  /** Column entry point: centroid ids + vectors become literal children
    * (they are bounded-size metadata by design), `v` stays a column. */
  def nearestCells(v: Column, cellIds: Array[Long],
      centroids: Array[Array[Double]], take: Int): Column =
    call_function("nearest_cells", v,
      array(centroids.map(c => lit(c)): _*), lit(cellIds), lit(take))
}
