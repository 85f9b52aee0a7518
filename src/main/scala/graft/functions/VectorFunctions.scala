package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns.
  *
  * NOTE: the `zip_with`/`aggregate` variants here are HOFs — correct
  * and UDF-free, but CodegenFallback (interpreted). They exist as the
  * readable reference implementations; every hot path uses the native
  * expressions (`cosine_sim`/`dot_product`/`nearest_cells`) instead.
  * Floats are widened to double BEFORE any arithmetic so accumulation
  * error is engine-portable (the fold is sequential left-to-right in
  * both Spark and DuckDB's list_dot_product, giving bit-identical sums
  * on identical inputs).
  */
object VectorFunctions {

  /** Exact widening float → double per element. A plain array cast, NOT
    * `transform(v, _.cast)`: higher-order functions are CodegenFallback
    * in Spark, and one interpreted expression in a projection ejects the
    * WHOLE stage from whole-stage codegen — the cast keeps every
    * embedding scan fully generated. */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product of two double vectors (sequential fold). Works for any
    * dimension. In hot pair-joins prefer the native expressions
    * (`CosineSimilarity.dotProduct` / `cosineSim`) — same arithmetic, a
    * tight generated loop instead of a per-row array allocation or a
    * dim-sized expression tree. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))
}
