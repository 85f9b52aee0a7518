package graft

import scala.io.StdIn
import org.apache.spark.sql.SparkSession
import graft.operators.{CorpusPipeline, Dedup}
import graft.sources.Catalog

/** Interactive client shell — the analog of the reference DFS CLI
  * (reference: dfs/client/cli.go ls/upload/download/stats loop), with
  * SQL as the query surface instead of job submission, plus
  * PROCEDURE-STYLE verbs for the production data-prep ladder (the
  * analog of the reference CLI's job submission): an operator a SQL
  * string can't express — multi-stage, stateful, writes a table — runs
  * as one shell verb over registered tables and lands back in the
  * catalog as a registered table.
  *
  * Commands:
  *   ls                      list tables in the data dir
  *   stats                   per-table rows + bytes (footer metadata)
  *   nodes                   executor stats
  *   download <tbl> <dir>    reassemble a table to one local file
  *   delete <tbl>            drop a table's files
  *   prep <src> <dest>       full corpus preparation (quality/lang →
  *                           exact dedup → near-dup → split) of table
  *                           <src>, written + registered as <dest>
  *   index <src> <dest>      MinHash signature index over <src>
  *   prep_incr <new> <index> <dest>
  *                           incremental prep of batch <new> against
  *                           signature index <index>
  *   neardup <src> [t]       near-dup pairs of <src> at threshold t
  *                           (default 0.5) via the size-routed ladder,
  *                           registered as view <src>_neardups
  *   help                    this text
  *   exit | quit             leave
  *   anything else           executed as Spark SQL over the registered tables
  *
  * Usage: runMain graft.Shell [dataDir]
  */
object Shell {

  /** Latched by `doctor!` on error-severity findings; [[main]] turns it
    * into a nonzero exit after the session ends, so a piped
    * `doctor! <sql>` gates CI the way the pre-commit audit gates
    * commits. Package-visible so specs can read and reset it. */
  @volatile private[graft] var strictDoctorFailed = false

  /** One command; returns false when the session should end. Extracted
    * from the REPL loop so the verb surface is drivable end-to-end in
    * specs (and by scripts piping stdin). */
  def execute(line: String, spark: SparkSession, cat: Catalog, dir: String): Boolean = {
    def register(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      cat.writeChunked(df, s"$dir/$dest.parquet", maxRecordsPerFile = 1000000L)
      cat.table(dest).createOrReplaceTempView(dest)
    }
    line.split("\\s+").toList match {
      case ("exit" | "quit") :: Nil => return false
      case "help" :: Nil =>
        println("ls | stats | nodes | download <tbl> <dir> | delete <tbl> | " +
          "prep <src> <dest> | index <src> <dest> | prep_incr <new> <index> <dest> | " +
          "neardup <src> [t] | bpe <src> [n] | buckets <src> | kmeans <src> [k] | " +
          "ann <src> [k] | pagerank [iters] | triangles | degrees | bfs | " +
          "gini | audit | vacuum | analyze <tbl> [cols...] | abc | rfm | " +
          "benford | changepoints | publish <src> <dest> | " +
          "explain <sql> | doctor <sql> | doctor! <sql> (nonzero exit on errors) | " +
          "skew <tbl> <col> | histogram <tbl> <col> | " +
          "kcore [k] | cc | lpa [rounds] | jaccard | dbscan [minPts] | silhouette | " +
          "silhouette_centroid | chi2 | " +
          "acf | dedup_eval | drawdown | ttl <tbl> <col> <micros> | " +
          "quality_model | quality_scores | attribution [days] | " +
          "token_budget [tokens] | mmr [k] | ttest | anova | survival | " +
          "mwu [typeA typeB] | attribution_multi | harmonic | ndcg | " +
          "kanon [k] | paths [k] | contract | drift | bm25 <terms...> | " +
          "phrase <t1> <t2> [...] | pca [k] | " +
          "calibration | maintain [segs] | hardneg [k] | " +
          "zonemap <lo> <hi> (yyyy-mm-dd shipdate probe) | " +
          "exit | <sql>  (SQL reaches the operator TVFs too: " +
          "graft_asof(dir) graft_dedup_minhash(dir[,bands]) " +
          "graft_mmr(dir[,maxq]) graft_funnel(dir) graft_kanon(dir[,k]) " +
          "graft_hard_negatives(dir[,k]) " +
          "graft_prep_attrition(dir[,bench[,minq]]) graft_contract(dir) " +
          "graft_doctor(sql) graft_drift(dir) graft_bm25(dir,query[,k]) " +
          "graft_bm25_phrase(dir,phrase[,k]))")
      case "ls" :: Nil => cat.list().foreach(println)
      case "stats" :: Nil => cat.stats().show(100, truncate = false)
      case "nodes" :: Nil => cat.executorStats().show(100, truncate = false)
      case "download" :: tbl :: dest :: Nil =>
        cat.download(tbl, dest); println(s"downloaded $tbl -> $dest")
      case "delete" :: tbl :: Nil =>
        println(if (cat.delete(tbl)) s"deleted $tbl" else s"no such table: $tbl")
      case "prep" :: src :: dest :: Nil =>
        val r = CorpusPipeline.prepare(cat.table(src))
        try register(r.corpus, dest) finally r.release()
        println(s"prepared $src -> $dest (${cat.table(dest).count()} docs)")
      case "index" :: src :: dest :: Nil =>
        register(Dedup.buildMinhashIndex(cat.table(src)), dest)
        println(s"indexed $src -> $dest")
      case "prep_incr" :: newTbl :: idx :: dest :: Nil =>
        val r = CorpusPipeline.prepareIncrement(cat.table(newTbl), cat.table(idx))
        try register(r.corpus, dest) finally r.release()
        println(s"prepared increment $newTbl (vs $idx) -> $dest " +
          s"(${cat.table(dest).count()} docs)")
      case "neardup" :: src :: rest if rest.length <= 1 =>
        val t = rest.headOption.map(_.toDouble).getOrElse(0.5)
        val view = s"${src}_neardups"
        Dedup.nearDupAuto(cat.table(src), threshold = t).createOrReplaceTempView(view)
        println(s"registered $view (${spark.table(view).count()} pairs at >= $t)")
      case "bpe" :: src :: rest if rest.length <= 1 =>
        val n = rest.headOption.map(_.toInt).getOrElse(8)
        val view = s"${src}_bpe_merges"
        operators.Bpe.merges(cat.table(src), n).createOrReplaceTempView(view)
        spark.table(view).orderBy("merge_rank").show(n, truncate = false)
        println(s"registered $view")
      case "buckets" :: src :: Nil =>
        val view = s"${src}_buckets"
        operators.TextAnalysis.ccnetBuckets(cat.table(src)).createOrReplaceTempView(view)
        spark.table(view).groupBy("lang", "bucket").count()
          .orderBy("lang", "bucket").show(50, truncate = false)
        println(s"registered $view")
      case "kmeans" :: src :: rest if rest.length <= 1 =>
        val k = rest.headOption.map(_.toInt).getOrElse(8)
        val view = s"${src}_kmeans"
        operators.Similarity.kmeansCentroids(cat.table(src), nCells = k)
          .createOrReplaceTempView(view)
        spark.table(view).select("cell_id", "n_members").distinct()
          .orderBy("cell_id").show(k, truncate = false)
        println(s"registered $view")
      case "ann" :: src :: rest if rest.length <= 1 =>
        // int8-residual IVF self-join probe: each of the first 10
        // vectors gets its k nearest neighbors from the quantized index
        import org.apache.spark.sql.functions.col
        import graft.functions.VectorFunctions.toDouble
        val k = rest.headOption.map(_.toInt).getOrElse(5)
        val emb = cat.table(src)
        val idx = operators.Similarity.buildIvfIndexQ(emb)
        val queries = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            toDouble(col("embedding")).as("qv"))
        val view = s"${src}_ann"
        operators.Similarity.ivfSearchQ(idx, queries, k)
          .createOrReplaceTempView(view)
        spark.table(view).orderBy("query_id", "rnk").show(20, truncate = false)
        println(s"registered $view")
      case "pagerank" :: rest if rest.length <= 1 =>
        // rank the nation trade network (fixed-point, deterministic)
        val iters = rest.headOption.map(_.toInt).getOrElse(3)
        val view = "nation_pagerank"
        operators.Graph.nationPagerank(spark, dir, iters)
          .createOrReplaceTempView(view)
        spark.table(view).orderBy(org.apache.spark.sql.functions.col("rank").desc)
          .show(10, truncate = false)
        println(s"registered $view")
      case "triangles" :: Nil =>
        operators.Graph.nationTriangles(spark, dir).show(truncate = false)
      case "degrees" :: Nil =>
        operators.Graph.nationDegrees(spark, dir)
          .orderBy(org.apache.spark.sql.functions.col("out_w").desc)
          .show(25, truncate = false)
      case "bfs" :: Nil =>
        operators.Graph.nationShortestPaths(spark, dir)
          .orderBy("hops", "n_name").show(25, truncate = false)
      case "gini" :: Nil =>
        // the skew data-card: per-nation spend inequality
        operators.Analytics.giniSpend(spark, dir)
          .orderBy(org.apache.spark.sql.functions.col("gini").desc)
          .show(25, truncate = false)
      case "audit" :: Nil =>
        // ingest gate: referential integrity + watermark lateness
        operators.Analytics.integrityAudit(spark, dir).show(truncate = false)
        operators.Events.latenessAudit(Tables.events(spark, dir))
          .orderBy("event_type").show(truncate = false)
      case "vacuum" :: Nil =>
        // torn-refresh cleanup of the Catalog's derived layouts
        println(s"vacuumed ${cat.vacuumDerived()} uncommitted derived dirs")
      case "analyze" :: tbl :: rest =>
        // ANALYZE-style exact column profile; default = every
        // non-floating column (float min/max string-format is
        // engine-specific, see Catalog.analyzeColumns)
        val df = cat.table(tbl)
        val cols = if (rest.nonEmpty) rest else df.schema.fields
          .filterNot(f => f.dataType == org.apache.spark.sql.types.DoubleType ||
            f.dataType == org.apache.spark.sql.types.FloatType)
          .map(_.name).toList
        Catalog.analyzeColumns(df, cols).show(100, truncate = false)
      case "abc" :: Nil =>
        operators.Analytics.abcClassification(Tables.lineitem(spark, dir))
          .orderBy("abc_class").show(truncate = false)
      case "rfm" :: Nil =>
        operators.Analytics.rfmSegments(Tables.orders(spark, dir))
          .orderBy("segment").show(truncate = false)
      case "benford" :: Nil =>
        operators.Analytics.benfordCard(Tables.orders(spark, dir))
          .orderBy("digit").show(truncate = false)
      case "changepoints" :: Nil =>
        operators.Events.cusumChangePoint(Tables.events(spark, dir))
          .orderBy("event_type").show(truncate = false)
      case "publish" :: src :: dest :: Nil =>
        // end-to-end release: prep → shard → committed shards +
        // manifest/datasheet/contract sidecars under the Catalog
        operators.CorpusPipeline.publish(cat, cat.table(src), dest)
          .show(truncate = false)
        println(s"published $src -> ${cat.derivedDir}/$dest")
      case "kcore" :: rest if rest.length <= 1 =>
        // cohesive backbone: k-core peel of the trade network
        val k = rest.headOption.map(_.toInt).getOrElse(3)
        operators.Graph.kCore(
            operators.Graph.topKBackbone(
              operators.Graph.tradeEdges(spark, dir), 3),
            k = k, coalesceTo = Some(1))
          .orderBy(org.apache.spark.sql.functions.col("core_deg").desc,
            org.apache.spark.sql.functions.col("node"))
          .show(25, truncate = false)
      case "cc" :: Nil =>
        // reachability read: who trades with whom, transitively
        operators.Graph.nationComponents(spark, dir)
          .orderBy("component", "n_name").show(25, truncate = false)
      case "lpa" :: rest if rest.length <= 1 =>
        // community read: who CLUSTERS with whom (denser than reachable)
        val rounds = rest.headOption.map(_.toInt).getOrElse(4)
        operators.Graph.labelPropagation(
            operators.Graph.topKBackbone(
              operators.Graph.tradeEdges(spark, dir), 3),
            rounds = rounds, coalesceTo = Some(1))
          .orderBy("community", "node").show(25, truncate = false)
      case "jaccard" :: Nil =>
        // link prediction: unlinked nation pairs with the most shared
        // trade partners first
        operators.Graph.nationJaccard(spark, dir)
          .where(!org.apache.spark.sql.functions.col("linked"))
          .orderBy(org.apache.spark.sql.functions.col("jac").desc,
            org.apache.spark.sql.functions.col("node_a"))
          .show(10, truncate = false)
      case "dbscan" :: rest if rest.length <= 1 =>
        val minPts = rest.headOption.map(_.toInt).getOrElse(3)
        operators.Similarity.dbscanEmbeddings(
            Tables.embeddings(spark, dir), minPts = minPts)
          .groupBy("role").count().orderBy("role").show(truncate = false)
      case (v @ ("silhouette" | "silhouette_centroid")) :: Nil =>
        // per-label mean silhouette (display only — the per-vector
        // card is the oracle-checked object); the centroid verb is the
        // linear corpus-scale rung
        (if (v == "silhouette_centroid")
          operators.Similarity.silhouetteCentroid(Tables.embeddings(spark, dir))
        else operators.Similarity.silhouette(Tables.embeddings(spark, dir)))
          .groupBy("label")
          .agg(org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.avg("sil"), 4).as("mean_sil"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
          .orderBy("label").show(truncate = false)
      case "chi2" :: Nil =>
        operators.Analytics.chiSquareCard(Tables.orders(spark, dir))
          .orderBy("o_orderstatus", "o_orderpriority").show(truncate = false)
      case "drawdown" :: Nil =>
        // worst peak-to-trough spenders first — the risk-read ordering
        operators.Analytics.maxDrawdown(Tables.orders(spark, dir))
          .orderBy(org.apache.spark.sql.functions.col("max_drawdown").desc,
            org.apache.spark.sql.functions.col("o_custkey"))
          .show(10, truncate = false)
      case "acf" :: Nil =>
        operators.Events.acf(Tables.events(spark, dir))
          .orderBy("lg").show(truncate = false)
      case "survival" :: Nil =>
        // churn read: how fast do reorder intervals die off
        operators.Analytics.kaplanMeier(Tables.orders(spark, dir))
          .orderBy("t_days").show(15, truncate = false)
      case "anova" :: Nil =>
        operators.Analytics.anovaCard(Tables.events(spark, dir))
          .show(truncate = false)
      case "mwu" :: rest =>
        // nonparametric read: is click engagement stochastically
        // larger than view (rank-based, no normality assumption)
        val ta = rest.headOption.getOrElse("click")
        val tb = rest.drop(1).headOption.getOrElse("view")
        if (rest.length > 2) println("usage: mwu [typeA typeB]")
        else if (ta == tb) println(
          s"mwu needs two distinct event types, got '$ta' twice")
        else operators.Analytics
          .mannWhitneyU(Tables.events(spark, dir), ta, tb)
          .show(truncate = false)
      case "attribution_multi" :: Nil =>
        // budget read: channel credit under linear + U-shaped schemes
        // (compare against last-touch from the `attribution` verb)
        operators.Events.multiTouchAttribution(Tables.events(spark, dir))
          .orderBy("channel").show(truncate = false)
      case "harmonic" :: Nil =>
        // centrality read: who sits closest to everyone in the trade
        // backbone (defined even where the graph is disconnected)
        operators.Graph.nationHarmonic(spark, dir)
          .orderBy(org.apache.spark.sql.functions.col("harmonic").desc,
            org.apache.spark.sql.functions.col("n_name"))
          .show(25, truncate = false)
      case "ttest" :: Nil =>
        // A/B read: which channel pairs differ significantly on value
        operators.Analytics.welchTTest(Tables.events(spark, dir))
          .orderBy("type_a", "type_b").show(truncate = false)
      case "doctor" :: rest if rest.nonEmpty =>
        // plan lint, nothing executed: the pre-commit scale audit for
        // YOUR query — cartesian/BNLJ/unpartitioned-window/1-task sinks
        val findings = plans.PlanDoctor.lint(spark.sql(rest.mkString(" ")))
        if (findings.isEmpty) println("plan clean: no scale-killers found")
        else findings.show(truncate = false)
      case "doctor!" :: rest if rest.nonEmpty =>
        // the GATING form: error-severity findings drive a nonzero
        // process exit, so `echo 'doctor! <sql>' | shell` gates CI
        // exactly as the pre-commit plan audit gates commits
        val findings = plans.PlanDoctor.lint(spark.sql(rest.mkString(" ")))
          .collect()
        val errs = findings.count(_.getString(1) == "error")
        findings.foreach(r =>
          println(s"${r.getString(1)}: ${r.getString(0)} - ${r.getString(2)}"))
        if (errs > 0) {
          strictDoctorFailed = true
          println(s"doctor!: $errs error-severity finding(s) - exit will be nonzero")
        } else println("doctor!: plan passes the gate")
      case "kanon" :: rest if rest.length <= 1 =>
        // release-governance read: how much of the corpus hides in
        // QI classes of >= k, and the l-diversity floor
        val k = rest.headOption.map(_.toInt).getOrElse(5)
        operators.TextAnalysis.kAnonymityCard(Tables.documents(spark, dir), k)
          .show(truncate = false)
      case "paths" :: rest if rest.length <= 1 =>
        // which event-type orders actually happen, by session count
        val k = rest.headOption.map(_.toInt).getOrElse(15)
        operators.Events.topPaths(Tables.events(spark, dir), k = k)
          .show(k, truncate = false)
      case "ndcg" :: Nil =>
        // rank-aware index quality: where do the true neighbors land
        operators.Similarity.ndcgCard(Tables.embeddings(spark, dir))
          .orderBy("query_id").show(truncate = false)
      case "mmr" :: rest if rest.length <= 1 =>
        // diversified neighbor read: redundant near-dups demoted
        val k = rest.headOption.map(_.toInt).getOrElse(5)
        operators.Similarity.mmrRerank(Tables.embeddings(spark, dir), kOut = k)
          .orderBy("query_id", "pick").show(5 * k, truncate = false)
      case "hardneg" :: rest if rest.length <= 1 =>
        // contrastive-training mining: highest-similarity WRONG-label
        // neighbors — what the loss learns most from
        val k = rest.headOption.map(_.toInt).getOrElse(10)
        operators.Similarity.hardNegatives(Tables.embeddings(spark, dir), 5, k)
          .orderBy("query_id", "rnk").show(5 * k, truncate = false)
      case "zonemap" :: lo :: hi :: Nil =>
        // file-skipping demo: shipdate-sorted lineitem + min/max
        // sidecar, then the probe reports bytes routing (files
        // opened vs total) alongside the answer
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val dest = s"${cat.derivedDir}/lineitem_zm_shell"
        cat.writeSorted(Tables.lineitem(spark, dir), dest, 16, "l_shipdate")
        cat.buildZoneMap(dest, Seq("l_shipdate"))
        val probe = cat.scanZoneMapped(dest, "l_shipdate",
          lit(lo).cast("timestamp"), lit(hi).cast("timestamp"))
        val total = spark.read.parquet(dest).inputFiles.length
        println(s"zone map opened ${probe.inputFiles.length} of $total files")
        probe.agg(count(lit(1)).as("rows"),
            sum(col("l_quantity")).as("sum_qty"))
          .show(truncate = false)
      case "quality_model" :: Nil =>
        // the distilled gopher gate: weights + training accuracy
        operators.QualityModel.trainCard(Tables.documents(spark, dir))
          .show(truncate = false)
      case "quality_scores" :: Nil =>
        // soft keep-scores, worst documents first (the drop review)
        operators.QualityModel.trainAndScore(Tables.documents(spark, dir))
          .orderBy("p_keep", "doc_id").show(10, truncate = false)
      case "attribution" :: rest if rest.length <= 1 =>
        val days = rest.headOption.map(_.toInt).getOrElse(7)
        operators.Events.attributionCard(Tables.events(spark, dir), days)
          .orderBy("channel").show(truncate = false)
      case "token_budget" :: rest if rest.length <= 1 =>
        // best-first budget fill; show the cut boundary (last docs in)
        val budget = rest.headOption.map(_.toLong).getOrElse(12000L)
        operators.Sampling.tokenBudget(Tables.documents(spark, dir), budget)
          .orderBy(org.apache.spark.sql.functions.col("cum_tokens").desc)
          .show(10, truncate = false)
      case "dedup_eval" :: Nil =>
        operators.Dedup.dedupEval(
          operators.Dedup.minhashLsh(Tables.documents(spark, dir), 3, 64, 16, 0.5)
            .select("id_a", "id_b"),
          operators.Dedup.ngramJaccard(Tables.documents(spark, dir), 3, 0.5)
            .select("id_a", "id_b")).show(truncate = false)
      case "ttl" :: tbl :: col :: micros :: Nil =>
        // retention purge: keep rows with <col> ≥ the µs cutoff; the
        // kept slice lands as a new snapshot version of snap_<tbl>_ttl
        val card = cat.retentionPurge(s"${tbl}_ttl", cat.table(tbl),
          org.apache.spark.sql.functions.expr(
            s"unix_micros($col) >= ${micros.toLong}"))
        card.show(truncate = false)
        println(s"snapshot versions: ${cat.snapshotVersions(s"${tbl}_ttl")}")
      case "explain" :: rest if rest.nonEmpty =>
        spark.sql(rest.mkString(" ")).explain("formatted")
      case "contract" :: Nil =>
        // ingest-gate read: every rule's violation count (0 = holds)
        Catalog.ordersContractCard(spark, dir)
          .orderBy("rule").show(truncate = false)
      case "drift" :: Nil =>
        // did the corpus mix move between the two snapshot halves?
        import org.apache.spark.sql.functions.{col, expr, lit, pmod}
        val docs = Tables.documents(spark, dir)
        operators.TextAnalysis.driftCard(
          docs.where(pmod(col("doc_id"), lit(2L)) === 0),
          docs.where(pmod(col("doc_id"), lit(2L)) === 1),
          Seq("lang" -> col("lang"), "source" -> col("source"),
            "len_bucket" -> expr("n_chars div 500")))
          .show(truncate = false)
      case "bm25" :: terms if terms.nonEmpty =>
        // lexical top-10 for the typed query terms
        operators.TextAnalysis.bm25(Tables.documents(spark, dir), terms)
          .show(truncate = false)
      case "phrase" :: terms if terms.size >= 2 =>
        // phrase-scored top-10: the terms must be ADJACENT in the doc
        operators.TextAnalysis.bm25Phrase(Tables.documents(spark, dir), terms)
          .show(truncate = false)
      case "pca" :: rest if rest.size <= 1 =>
        // top-k principal directions (collapse check): one row per
        // (component, coordinate), lambda = the direction's energy
        val k = rest.headOption.map(_.toInt).getOrElse(2)
        operators.Similarity.pcaComponents(Tables.embeddings(spark, dir), k)
          .show(k * 64, truncate = false)
      case "calibration" :: Nil =>
        // is the quality score a rate? decile reliability + Brier
        operators.QualityModel.calibrationCard(Tables.documents(spark, dir))
          .show(truncate = false)
      case "maintain" :: rest if rest.length <= 1 =>
        // segment hygiene: compact every derived artifact at/past the
        // threshold (ANN + text indexes, SCD2 histories, join MVs)
        val done = cat.maintain(rest.headOption.map(_.toInt).getOrElse(8))
        println(if (done.isEmpty) "nothing to compact"
          else done.mkString("compacted: ", ", ", ""))
      case "skew" :: tbl :: key :: Nil =>
        // preflight: will this key shuffle evenly?
        Catalog.skewCard(cat.table(tbl),
          org.apache.spark.sql.functions.col(key)).show(truncate = false)
      case "histogram" :: tbl :: key :: Nil =>
        Catalog.equiDepthHistogram(cat.table(tbl),
            org.apache.spark.sql.functions.col(key))
          .orderBy("bucket").show(truncate = false)
      case _ => spark.sql(line).show(50, truncate = false)
    }
    true
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Graft.session(master = "local[*]", appName = "graft-shell")
    val cat = new Catalog(spark, dir)
    cat.registerAll()
    println(s"graft shell — ${cat.list().size} tables from $dir (help for commands)")

    var running = true
    while (running) {
      print("graft> ")
      Console.out.flush()
      val line = Option(StdIn.readLine()).map(_.trim).orNull
      if (line == null) running = false
      else if (line.nonEmpty) try {
        running = execute(line, spark, cat, dir)
      } catch {
        case e: Exception => println(s"error: ${e.getMessage}")
      }
    }
    spark.stop()
    if (strictDoctorFailed) sys.exit(1)
  }
}
