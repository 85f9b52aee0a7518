package graft

import org.apache.spark.sql.functions._
import graft.operators.{BloomJoin, Similarity, TextAnalysis}
import graft.sources.Catalog

/** Round-12 hardening of the advice findings: same-named-key Bloom
  * joins, text-index rebuild hygiene, and PCA degenerate-input
  * guards. */
class Round12AdviceSpec extends SparkSpec {
  import spark.implicits._

  test("bloom semi/anti joins accept identical probe/build key names") {
    // the natural spelling — both sides call the key "id" — used to
    // hit AMBIGUOUS_REFERENCE in the exact re-check join
    val probe = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v")
    val build = Seq(2L, 4L).toDF("id")
    val semi = BloomJoin.semiJoin(probe, "id", build, "id")
      .select("id").as[Long].collect().toSet
    val anti = BloomJoin.antiJoin(probe, "id", build, "id")
      .select("id").as[Long].collect().toSet
    assert(semi == Set(2L, 4L))
    assert(anti == Set(1L, 3L))
  }

  test("bloom joins accept a probe that already carries the build key name") {
    val probe = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "bk")
    val build = Seq(2L, 3L).toDF("bk")
    val semi = BloomJoin.semiJoin(probe, "k", build, "bk")
      .select("k").as[Long].collect().toSet
    assert(semi == Set(2L, 3L))
  }

  test("rebuilding a text index under an existing name drops stale segments") {
    val docs = Tables.documents(spark, sfDir)
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-r12ti").toString))
    val query = Seq("data", "join", "scan")
    cat.buildTextIndex("ti", docs.where(col("doc_id") % 3 =!= 0))
    cat.upsertTextIndex("ti", docs.where(col("doc_id") % 3 === 0), 1L)
    // REBUILD over the full corpus: without segment hygiene the old
    // batch-1 segment would union in and double-count df/dl/stats
    cat.buildTextIndex("ti", docs)
    val idx = cat.loadTextIndex("ti")
    assert(idx.stats.collect().head.getLong(0) == docs.count())
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(TextAnalysis.bm25Indexed(idx, query)) ==
      hits(TextAnalysis.bm25(docs, query)))
  }

  test("pca: empty corpus yields an empty card, not NaN loadings") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pcaTopComponent(empty).count() == 0L)
    assert(Similarity.pcaComponents(empty, k = 2).count() == 0L)
  }

  test("pca: all-zero corpus yields an empty card (lambda = 0)") {
    val zeros = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.pcaTopComponent(zeros).count() == 0L)
  }
}

/** Top-k PCA via deflation: a rank-2 corpus is recovered exactly —
  * two orthogonal unit directions with the planted energies — and the
  * third component vanishes (λ = 0 stops the card, no NaN rows). */
class PcaKSpec extends SparkSpec {
  import spark.implicits._

  test("rank-2 fixture: both directions recovered, third component absent") {
    // axis-aligned rank-2 data: x-energy 100+400=500, y-energy 25+225=250
    val emb = Seq(
      (1L, Seq(10.0f, 0.0f, 0.0f)), (2L, Seq(-20.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 5.0f, 0.0f)), (4L, Seq(0.0f, -15.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // 40 iterations: contamination decays (λ2/λ1)^t = 2^-40, far below
    // the 2^-30 fixed-point grid — the accumulated cross-terms round
    // to exactly 0 and the direction SNAPS to the axis
    val card = Similarity.pcaComponents(emb, k = 3, iters = 40)
      .orderBy("component", "pos").collect()
    // exactly 2 components × 3 positions — deflation exhausts rank 2
    assert(card.length == 6, s"got ${card.length} rows")
    val c1 = card.filter(_.getLong(0) == 1L)
    val c2 = card.filter(_.getLong(0) == 2L)
    assert(math.abs(math.abs(c1(0).getDouble(2)) - 1.0) < 1e-6) // ±e_x
    assert(math.abs(c1(1).getDouble(2)) < 1e-6)
    assert(math.abs(c1.head.getDouble(3) - 500.0) < 1e-3)
    assert(math.abs(math.abs(c2(1).getDouble(2)) - 1.0) < 1e-6) // ±e_y
    assert(math.abs(c2(0).getDouble(2)) < 1e-6)
    assert(math.abs(c2.head.getDouble(3) - 250.0) < 1e-3)
  }

  test("real corpus: k components are unit-norm, mutually orthogonal, λ1 dominant") {
    val card = Similarity
      .pcaComponents(Tables.embeddings(spark, sfDir), k = 3)
      .orderBy("component", "pos").collect()
    assert(card.length == 3 * 64)
    val comps = card.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (c, rows) =>
        (c, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray,
          rows.head.getDouble(3))
      }
    comps.foreach { case (c, v, _) =>
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-4, s"component $c norm2=$n2")
    }
    for (i <- comps.indices; j <- comps.indices if i < j) {
      val dot = comps(i)._2.zip(comps(j)._2).map { case (a, b) => a * b }.sum
      assert(math.abs(dot) < 0.05, s"components ${i + 1}·${j + 1} dot=$dot")
    }
    // the dominant direction leads; the TAIL may emerge out of order
    // when eigenvalues are near-tied (random embeddings cluster the
    // spectrum, and 3 power passes can't separate ~2% gaps) — both
    // engines compute the identical order, which the driver oracle
    // hash-checks, so the card stays deterministic either way
    val lambdas = comps.map(_._3)
    assert(lambdas.tail.forall(_ <= lambdas.head + 1e-9),
      s"lambda1 not dominant: $lambdas")
    // component 1 equals the single-direction entry exactly
    val top = Similarity.pcaTopComponent(Tables.embeddings(spark, sfDir))
      .orderBy("pos").collect().map(_.getDouble(1)).toSeq
    assert(comps.head._2.toSeq == top)
  }
}
