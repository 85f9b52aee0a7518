package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL FRONT DOOR for the operator library: graft's whole-operator
  * entry points (as-of attribution, MinHash-LSH dedup, MMR rerank, the
  * 3-step funnel) registered as SQL TABLE FUNCTIONS, so a non-Scala
  * user reaches them from any SQL surface the session serves
  * (`graft.Shell`, a Thrift server, a notebook):
  *
  * {{{
  *   SELECT * FROM graft_asof('/data/sf0.01')
  *   SELECT * FROM graft_dedup_minhash('/data/sf0.01')
  *   SELECT * FROM graft_mmr('/data/sf0.01', 5)
  *   SELECT * FROM graft_funnel('/data/sf0.01')
  * }}}
  *
  * This mirrors the reference client's ad-hoc job submission
  * (reference: dfs/client/cli.go — a user names a job and a data dir,
  * the engine runs the canned computation) re-expressed on Spark's own
  * extension point: `SparkSessionExtensions.injectTableFunction`
  * resolves the call during ANALYSIS into the operator's full logical
  * plan, so Catalyst optimizes straight through it — the SQL spelling
  * and the Scala spelling produce the SAME physical plan (pushdown,
  * broadcast, AQE all apply; nothing is materialized at the boundary).
  *
  * Arguments must be FOLDABLE literals (they parameterize plan
  * construction, not row evaluation); a non-literal argument is an
  * analysis-time error with a usage message, matching how Spark's own
  * `range(...)` TVF treats its arguments.
  */
object TableFunctions {

  /** Resolve TVF argument `i` as a string literal. */
  private def strArg(fn: String, exprs: Seq[Expression], i: Int): String =
    exprs.lift(i) match {
      case Some(Literal(s: UTF8String, StringType)) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal (the table " +
          s"directory), got ${other.map(_.sql).getOrElse("nothing")}")
    }

  /** Resolve optional TVF argument `i` as a long literal. */
  private def longArg(fn: String, exprs: Seq[Expression], i: Int,
      dflt: Long): Long =
    exprs.lift(i) match {
      case None => dflt
      case Some(Literal(v: Integer, IntegerType)) => v.toLong
      case Some(Literal(v: java.lang.Long, LongType)) => v.longValue()
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got ${other.sql}")
    }

  private def maxArgs(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length > n) throw new IllegalArgumentException(
      s"$fn takes at most $n arguments, got ${exprs.length}")

  /** One TVF: `build` runs at analysis time on the ACTIVE session and
    * returns the operator's DataFrame; the analyzed plan becomes the
    * relation the outer query selects from. */
  private def tvf(ext: SparkSessionExtensions, name: String,
      usage: String)(build: (SparkSession, Seq[Expression]) => DataFrame): Unit =
    ext.injectTableFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(TableFunctions.getClass.getName, name, usage),
      (exprs: Seq[Expression]) => {
        val spark = SparkSession.active
        build(spark, exprs).queryExecution.analyzed: LogicalPlan
      }))

  /** Register the operator TVFs (called from [[GraftExtensions]]). */
  def register(ext: SparkSessionExtensions): Unit = {
    tvf(ext, "graft_asof",
      "graft_asof(dir) - as-of purchase attribution over <dir>/events") {
      (spark, exprs) =>
        maxArgs("graft_asof", exprs, 1)
        graft.operators.AsOfJoin.purchaseAttribution(
          graft.Tables.events(spark, strArg("graft_asof", exprs, 0)))
    }
    tvf(ext, "graft_dedup_minhash",
      "graft_dedup_minhash(dir[, bands]) - MinHash-LSH near-dup pairs " +
        "over <dir>/documents") { (spark, exprs) =>
      maxArgs("graft_dedup_minhash", exprs, 2)
      graft.operators.Dedup.minhashLsh(
        graft.Tables.documents(spark,
          strArg("graft_dedup_minhash", exprs, 0)),
        bands = longArg("graft_dedup_minhash", exprs, 1, 16L).toInt)
    }
    tvf(ext, "graft_mmr",
      "graft_mmr(dir[, max_query_id]) - greedy MMR rerank over " +
        "<dir>/embeddings") { (spark, exprs) =>
      maxArgs("graft_mmr", exprs, 2)
      graft.operators.Similarity.mmrRerank(
        graft.Tables.embeddings(spark, strArg("graft_mmr", exprs, 0)),
        maxQueryId = longArg("graft_mmr", exprs, 1, 5L))
    }
    tvf(ext, "graft_hard_negatives",
      "graft_hard_negatives(dir[, k]) - top-k most-similar WRONG-label " +
        "neighbors per query over <dir>/embeddings (contrastive-" +
        "training negative mining)") { (spark, exprs) =>
      maxArgs("graft_hard_negatives", exprs, 2)
      graft.operators.Similarity.hardNegatives(
        graft.Tables.embeddings(spark,
          strArg("graft_hard_negatives", exprs, 0)),
        maxQueryId = 5,
        k = longArg("graft_hard_negatives", exprs, 1, 10L).toInt)
    }
    tvf(ext, "graft_funnel",
      "graft_funnel(dir) - view>click>purchase funnel over <dir>/events") {
      (spark, exprs) =>
        maxArgs("graft_funnel", exprs, 1)
        graft.operators.Events.funnel(
          graft.Tables.events(spark, strArg("graft_funnel", exprs, 0)))
    }
    tvf(ext, "graft_kanon",
      "graft_kanon(dir[, k]) - k-anonymity governance card over " +
        "<dir>/documents") { (spark, exprs) =>
      maxArgs("graft_kanon", exprs, 2)
      graft.operators.TextAnalysis.kAnonymityCard(
        graft.Tables.documents(spark, strArg("graft_kanon", exprs, 0)),
        k = longArg("graft_kanon", exprs, 1, 5L).toInt)
    }
    // the PIPELINE-verb cards: read-only views of the prep/storage
    // procedures, so a non-Scala user can ask "where would my data go"
    // and "does this batch honor its contract" from pure SQL. (The
    // MUTATING verbs — prepare/publish/upsert — stay Scala-only: a TVF
    // is a relation, and hiding a write behind a SELECT would be a
    // side-effecting table read; a procedure surface is the right
    // future home.) Unlike the operator TVFs above, graft_prep_attrition
    // RUNS the bounded prep-count job at resolution (the card is five
    // literal rows — attrition() collects eagerly so its cached stage
    // pins can be released); what the query then selects from is that
    // 5-row relation.
    tvf(ext, "graft_prep_attrition",
      "graft_prep_attrition(dir[, benchmark_below[, min_quality_pct]]) - " +
        "per-stage survivor counts of corpus prep over <dir>/documents; " +
        "doc_ids below benchmark_below act as the decontamination " +
        "benchmark (0 = none)") { (spark, exprs) =>
      maxArgs("graft_prep_attrition", exprs, 3)
      val docs = graft.Tables.documents(spark,
        strArg("graft_prep_attrition", exprs, 0))
      val bound = longArg("graft_prep_attrition", exprs, 1, 0L)
      val minQ = longArg("graft_prep_attrition", exprs, 2, 30L) / 100.0
      import org.apache.spark.sql.functions.col
      val (corpus, bench) =
        if (bound > 0) (docs.where(col("doc_id") >= bound),
          Some(docs.where(col("doc_id") < bound)))
        else (docs, None)
      graft.operators.CorpusPipeline.attrition(corpus, bench,
        minQuality = minQ)
    }
    tvf(ext, "graft_contract",
      "graft_contract(dir) - the orders ingest-gate contract card over " +
        "<dir>/orders (0 violations per rule = the gate holds)") {
      (spark, exprs) =>
        maxArgs("graft_contract", exprs, 1)
        graft.sources.Catalog.ordersContractCard(spark,
          strArg("graft_contract", exprs, 0))
    }
    tvf(ext, "graft_drift",
      "graft_drift(dir) - snapshot-drift card (TVD + biggest-moving " +
        "category per feature) between even/odd doc_id halves of " +
        "<dir>/documents") { (spark, exprs) =>
      maxArgs("graft_drift", exprs, 1)
      import org.apache.spark.sql.functions.{col, expr, lit, pmod}
      val docs = graft.Tables.documents(spark, strArg("graft_drift", exprs, 0))
      graft.operators.TextAnalysis.driftCard(
        docs.where(pmod(col("doc_id"), lit(2L)) === 0),
        docs.where(pmod(col("doc_id"), lit(2L)) === 1),
        Seq("lang" -> col("lang"), "source" -> col("source"),
          "len_bucket" -> expr("n_chars div 500")))
    }
    tvf(ext, "graft_bm25",
      "graft_bm25(dir, query[, k]) - BM25 top-k doc ids for a " +
        "space-separated query over <dir>/documents") { (spark, exprs) =>
      maxArgs("graft_bm25", exprs, 3)
      val terms = strArg("graft_bm25", exprs, 1)
        .split("\\s+").filter(_.nonEmpty).toSeq
      graft.operators.TextAnalysis.bm25(
        graft.Tables.documents(spark, strArg("graft_bm25", exprs, 0)),
        terms, k = longArg("graft_bm25", exprs, 2, 10L).toInt)
    }
    tvf(ext, "graft_bm25_phrase",
      "graft_bm25_phrase(dir, phrase[, k]) - PHRASE-scored BM25 top-k " +
        "(terms must occur at consecutive positions) over " +
        "<dir>/documents") { (spark, exprs) =>
      maxArgs("graft_bm25_phrase", exprs, 3)
      val terms = strArg("graft_bm25_phrase", exprs, 1)
        .split("\\s+").filter(_.nonEmpty).toSeq
      graft.operators.TextAnalysis.bm25Phrase(
        graft.Tables.documents(spark, strArg("graft_bm25_phrase", exprs, 0)),
        terms, k = longArg("graft_bm25_phrase", exprs, 2, 10L).toInt)
    }
    tvf(ext, "graft_doctor",
      "graft_doctor(sql) - lint <sql>'s plan for scale-killers " +
        "(cartesian/BNLJ/unpartitioned window/1-task exchange/wide " +
        "scan; streaming: unbounded state) - plans only, never runs " +
        "it; empty result = clean") { (spark, exprs) =>
      maxArgs("graft_doctor", exprs, 1)
      // lint runs at resolution (planning the inner query IS the
      // work); the relation selected from is the findings card
      graft.plans.PlanDoctor.lint(
        spark.sql(strArg("graft_doctor", exprs, 0)))
    }
  }
}
