package graft

import org.apache.spark.sql.Row

/** The SQL front door (graft.functions.TableFunctions): each operator
  * TVF must return EXACTLY what the Scala entry point returns — the
  * TVF resolves to the operator's own logical plan, so any divergence
  * means the registration drifted from the operator. Also pins the
  * analysis-time argument contract (literal-only, arity-checked). */
class SqlFrontDoorSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("graft_asof(dir) == AsOfJoin.purchaseAttribution") {
    val sql = spark.sql(s"SELECT * FROM graft_asof('$sfDir')")
    val scala_ = operators.AsOfJoin.purchaseAttribution(
      Tables.events(spark, sfDir))
    assert(sql.columns.toSeq == scala_.columns.toSeq)
    assert(rows(sql) == rows(scala_))
  }

  test("graft_dedup_minhash(dir) == Dedup.minhashLsh defaults") {
    val sql = spark.sql(s"SELECT * FROM graft_dedup_minhash('$sfDir')")
    val scala_ = operators.Dedup.minhashLsh(Tables.documents(spark, sfDir))
    assert(rows(sql) == rows(scala_))
  }

  test("graft_dedup_minhash(dir, bands) rejects bands that do not divide the 64 minhashes") {
    for (bands <- Seq(0, -1, 7, 100)) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_dedup_minhash('$sfDir', $bands)").collect()
      }
      val bad = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
      assert(bad.exists(_.contains("1, 2, 4, 8, 16, 32, 64: got " + bands)),
        s"bands = $bands: $e")
    }
  }

  test("graft_mmr(dir, k) forwards the literal arg") {
    val sql = spark.sql(s"SELECT * FROM graft_mmr('$sfDir', 3)")
    val scala_ = operators.Similarity.mmrRerank(
      Tables.embeddings(spark, sfDir), maxQueryId = 3)
    assert(rows(sql) == rows(scala_))
  }

  test("graft_hard_negatives(dir, k) forwards the k literal") {
    val sql = spark.sql(s"SELECT * FROM graft_hard_negatives('$sfDir', 3)")
    val scala_ = operators.Similarity.hardNegatives(
      Tables.embeddings(spark, sfDir), 5, 3)
    assert(sql.columns.toSeq == scala_.columns.toSeq)
    assert(rows(sql) == rows(scala_))
  }

  test("graft_funnel(dir) == Events.funnel and composes under SQL") {
    val sql = spark.sql(
      s"SELECT count(*) AS n FROM graft_funnel('$sfDir') WHERE first_purchase IS NOT NULL")
    val scala_ = operators.Events.funnel(Tables.events(spark, sfDir))
      .where("first_purchase IS NOT NULL").count()
    assert(sql.head().getLong(0) == scala_)
  }

  test("TVF plan is the operator plan (optimizes through, no barrier)") {
    val sql = spark.sql(s"SELECT * FROM graft_funnel('$sfDir')")
    // a projection over the TVF prunes into the operator's own scan:
    // no materialization boundary at the SQL/Scala seam
    val pruned = spark.sql(s"SELECT user_id FROM graft_funnel('$sfDir')")
    assert(pruned.queryExecution.optimizedPlan.schema.fieldNames
      .toSeq == Seq("user_id"))
    assert(sql.queryExecution.executedPlan.toString.contains("Scan parquet"))
  }

  test("graft_kanon(dir, k) forwards the k literal") {
    val sql = spark.sql(s"SELECT * FROM graft_kanon('$sfDir', 3)")
    val scala_ = operators.TextAnalysis.kAnonymityCard(
      Tables.documents(spark, sfDir), k = 3)
    assert(rows(sql) == rows(scala_))
  }

  test("graft_prep_attrition(dir, bound, minq) == CorpusPipeline.attrition") {
    import org.apache.spark.sql.functions.col
    val sql = spark.sql(
      s"SELECT * FROM graft_prep_attrition('$sfDir', 20, 20)")
    val docs = Tables.documents(spark, sfDir)
    val scala_ = operators.CorpusPipeline.attrition(
      docs.where(col("doc_id") >= 20), Some(docs.where(col("doc_id") < 20)),
      minQuality = 0.2)
    assert(rows(sql) == rows(scala_))
    // no-benchmark form: 5 stages still reported (decontamination is a
    // pass-through when there is nothing to decontaminate against)
    val bare = spark.sql(s"SELECT * FROM graft_prep_attrition('$sfDir')")
    assert(bare.count() >= 4)
  }

  test("graft_contract(dir) == Catalog.ordersContractCard and gates in SQL") {
    val sql = spark.sql(s"SELECT * FROM graft_contract('$sfDir')")
    val scala_ = sources.Catalog.ordersContractCard(spark, sfDir)
    assert(rows(sql) == rows(scala_))
    // the one-number gate read a CI job would run
    val worst = spark.sql(
      s"SELECT max(n_violations) AS m FROM graft_contract('$sfDir')")
    assert(worst.head().getLong(0) == 0L)
  }

  test("non-literal / bad-arity arguments fail at analysis with usage") {
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_asof(rand())").collect()
    }
    assert(e1.getMessage.contains("string literal"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_asof('$sfDir', 1, 2)").collect()
    }
    assert(e2.getMessage.contains("at most"))
  }
}
