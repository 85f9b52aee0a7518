package graft

import graft.sources.Catalog

/** Round-13 regression pins for the round-12 advice findings: empty
  * deltas into the durable MV (an empty first delta leaves a readable
  * schema-bearing state, an empty later delta is a no-op that still
  * stamps its batch id) and the rank-deficient PCA oracle guards. */
class Round13FixSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark, sfDir,
    Some(tempDir("graft-r13").toString))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("an empty FIRST delta commits nothing — no dataless state dir") {
    val cat = freshCat()
    val empty = Seq.empty[(String, Long)].toDF("k", "n")
    val out = cat.refreshAggMv("mv", empty, Seq("k"))
    assert(out.isEmpty && out.columns.toSeq == Seq("k", "n"))
    // no rows, but the state reads back with its schema instead of
    // failing schema inference over an empty dir
    assert(cat.mvState("mv").isEmpty)
    // the stream goes on: the next real delta serves exactly its rows
    cat.refreshAggMv("mv", Seq(("a", 2L), ("b", 3L)).toDF("k", "n"), Seq("k"))
    assert(rows(cat.mvState("mv")) == Set(("a", 2L), ("b", 3L)))
  }

  test("an empty LATER delta is a readable no-op against committed state") {
    val cat = freshCat()
    cat.refreshAggMv("mv2", Seq(("a", 2L)).toDF("k", "n"), Seq("k"))
    val out = cat.refreshAggMv("mv2",
      Seq.empty[(String, Long)].toDF("k", "n"), Seq("k"), batchId = Some(5L))
    assert(rows(out) == Set(("a", 2L)))
    // and the batch marker landed: a retry of the same id no-ops
    val again = cat.refreshAggMv("mv2",
      Seq(("a", 99L)).toDF("k", "n"), Seq("k"), batchId = Some(5L))
    assert(rows(again) == Set(("a", 2L)))
    assert(rows(cat.mvState("mv2")) == Set(("a", 2L)))
  }

  test("PCA oracles carry the rank-deficiency guards (structural pin)") {
    // the behavioral check runs driver-side in DuckDB (PLANS.md round
    // 13); here we pin that the guards cannot silently fall out of the
    // generated SQL: the CASE keeps a dead pass at 0.0 instead of 0/0
    // NaN, the WHERE drops dead components like the Scala early stop
    val kSql = operators.Similarity.pcaKOracleSql(4, 3, 64)
    assert(kSql.contains("CASE WHEN list_dot_product(wl, wl) = 0"))
    assert(kSql.contains("WHERE lam <> 0"))
    val topSql = operators.Similarity.pcaOracleSql(3, 64)
    assert(topSql.contains("CASE WHEN list_dot_product(wl, wl) = 0"))
    assert(topSql.contains("WHERE lam <> 0"))
  }
}
