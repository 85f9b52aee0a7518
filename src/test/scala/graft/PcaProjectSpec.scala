package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Per-vector coordinates on the top-k principal subspace: exact
  * recovery on an axis-aligned fixture, zero-padding past the corpus
  * rank, and the energy (Parseval) bound on the real corpus. */
class PcaProjectSpec extends SparkSpec {
  import spark.implicits._

  test("rank-2 fixture: coordinates recover the planted coefficients; dead pcs are exact 0.0") {
    val emb = Seq(
      (1L, Seq(10.0f, 0.0f, 0.0f)), (2L, Seq(-20.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 5.0f, 0.0f)), (4L, Seq(0.0f, -15.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.pcaProject(emb, k = 3, iters = 40)
      .orderBy("vec_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // the axes snap exactly (the PcaKSpec argument), so pc1 = ±x,
    // pc2 = ±y, with ONE sign per component across all vectors
    val s1 = math.signum(rows(0).getDouble(1))
    assert(rows(0).getDouble(1) == s1 * 10.0)
    assert(rows(1).getDouble(1) == s1 * -20.0)
    assert(rows(2).getDouble(1) == 0.0 && rows(3).getDouble(1) == 0.0)
    val s2 = math.signum(rows(2).getDouble(2))
    assert(rows(2).getDouble(2) == s2 * 5.0)
    assert(rows(3).getDouble(2) == s2 * -15.0)
    assert(rows(0).getDouble(2) == 0.0 && rows(1).getDouble(2) == 0.0)
    // rank 2 < k = 3: the dead component pads with exact 0.0
    assert(rows.forall(_.getDouble(3) == 0.0))
  }

  test("real corpus: schema stable, coordinates satisfy the energy bound") {
    val k = 4
    val proj = Similarity.pcaProject(Tables.embeddings(spark, sfDir), k = k)
    assert(proj.columns.toSeq == "vec_id" +: (1 to k).map(c => s"pc$c"))
    val withNorm = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
      .join(proj, "vec_id")
    val bad = withNorm.where(
      (1 to k).map(c => col(s"pc$c") * col(s"pc$c"))
        .reduce(_ + _) > col("n2") + lit(1e-6))
    assert(bad.isEmpty, "sum of squared coordinates exceeded |x|^2")
    assert(proj.count() == Tables.embeddings(spark, sfDir).count())
  }
}
