package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Every native SQL function of [[graft.functions.GraftExtensions]],
  * run over a small parquet frame with a null row: the projection sits
  * inside a whole-stage-codegen stage, and the interpreted path (no
  * whole-stage codegen, interpreted projections) returns the same rows. */
class NativeKernelSpec extends SparkSpec {

  private lazy val input: String = {
    import spark.implicits._
    val out = tempDir("native_kernel_").resolve("in").toString
    Seq(
      (1L, Some(Seq("a", "b", "a", "c")), Some(Seq(1.0, 2.0)), Some(Seq(2.0, 1.0)),
        Some("x"), Some(5L), Some(3L), Some(Seq(1L, 2L, 3L))),
      (2L, Some(Seq.empty[String]), Some(Seq(0.5, 0.25)), Some(Seq(1.0, 0.0)),
        Some(""), Some(-7L), Some(11L), Some(Seq.empty[Long])),
      (3L, Some(Seq("the", "b")), Some(Seq(3.0, -1.0)), Some(Seq(-1.0, 3.0)),
        Some("héllo"), Some(0L), Some(0L), Some(Seq(7L))),
      (4L, None, None, None, None, None, None, None))
      .toDF("id", "tk", "v", "w", "s", "h1", "h2", "frame")
      .coalesce(1).write.parquet(out)
    out
  }

  private val calls = Seq(
    "cosine_sim" -> "cosine_sim(v, w)",
    "dot_product" -> "dot_product(v, w)",
    "nearest_cells" ->
      "nearest_cells(v, array(array(1.0D, 0.0D), array(0.0D, 1.0D)), array(10L, 20L), 1)",
    "hit_count" -> "hit_count(tk, array('a', 'the'))",
    "portable_hash60" -> "portable_hash60(s, '-', h1)",
    "repetition_stats" -> "repetition_stats(tk)",
    "shingle_hashes" -> "shingle_hashes(tk, 2)",
    "simhash_sig" -> "simhash_sig(tk)",
    "minhash_sig" -> "minhash_sig(tk, 2, 4)",
    "bloom_contains" -> "bloom_contains(h1, h2, array(-1L, 0L), 2)",
    "decayed_sum" -> "decayed_sum(frame, 4)")

  private def project(s: SparkSession, call: String): DataFrame =
    s.read.parquet(input).selectExpr("id", s"$call AS r")

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq

  test("the table covers every native SQL function") {
    val names = calls.map(_._1).toSet
    val registered = spark.sessionState.functionRegistry.listFunction().map(_.funcName)
    assert(names.size == 11 && names.subsetOf(registered.toSet))
  }

  calls.foreach { case (fn, call) =>
    test(s"$fn runs inside whole-stage codegen and its interpreted path agrees") {
      val df = project(spark, call)
      val generated = rows(df)
      val plan = df.opPlanString
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
        s"$fn must run inside whole-stage codegen:\n$plan")
      assert(generated.find(_.getLong(0) == 4L).exists(_.isNullAt(1)),
        s"$fn must be null on the null row")

      val interp = spark.newSession()
      interp.conf.set("spark.sql.codegen.wholeStage", "false")
      interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val idf = project(interp, call)
      val interpreted = rows(idf)
      assert(!idf.opPlanString.contains("*("), "interpreted run must not use codegen")
      assert(interpreted == generated)
    }
  }
}
