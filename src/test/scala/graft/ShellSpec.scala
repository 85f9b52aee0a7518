package graft

import graft.sources.Catalog

/** The shell's procedure verbs must run the PRODUCTION prep path over a
  * registered corpus end-to-end: prepare → written + registered table →
  * SQL over the result; signature index → incremental prep against it;
  * the near-dup ladder as a queryable view — the verb surface plain SQL
  * can't express. `run <entry>`, the analog of the reference CLI's job
  * submission, must show any driver entry over the shell's data dir. */
class ShellProcedureSpec extends SparkSpec {
  import spark.implicits._

  test("shell prep/index/prep_incr/neardup run end-to-end over a registered corpus") {
    val dir = tempDir("graft-shell").toString
    Tables.documents(spark, sfDir).write.parquet(s"$dir/documents.parquet")
    val cat = new Catalog(spark, dir)
    cat.registerAll()

    // full prep → registered table with the split assignment
    assert(Shell.execute("prep documents corpus_v1", spark, cat, dir))
    assert(cat.list().contains("corpus_v1"))
    val prepared = spark.table("corpus_v1")
    assert(prepared.count() > 0 && prepared.columns.contains("split"))
    // plain SQL over the registered result — the end-to-end contract
    assert(Shell.execute(
      "SELECT split, count(*) AS n FROM corpus_v1 GROUP BY split", spark, cat, dir))

    // signature index, then an incremental batch prepared against it:
    // the batch is a re-keyed copy of the corpus, so near-everything is
    // a cross-dup — the verb must still complete and register
    assert(Shell.execute("index documents doc_index", spark, cat, dir))
    Tables.documents(spark, sfDir)
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .write.parquet(s"$dir/batch1.parquet")
    cat.registerAll()
    assert(Shell.execute("prep_incr batch1 doc_index corpus_inc", spark, cat, dir))
    assert(spark.table("corpus_inc").columns.contains("split"))

    // the size-routed near-dup ladder as a queryable view
    assert(Shell.execute("neardup documents", spark, cat, dir))
    assert(spark.table("documents_neardups").count() > 0)

    // tokenizer fitting from the shell: learned merge table as a view
    assert(Shell.execute("bpe documents 4", spark, cat, dir))
    assert(spark.table("documents_bpe_merges").count() == 4)

    // CCNet tercile bucketing as a view
    assert(Shell.execute("buckets documents", spark, cat, dir))
    assert(spark.table("documents_buckets")
      .select("bucket").distinct().count() == 3)

    // k-means over a registered embeddings table
    Tables.embeddings(spark, sfDir).write.parquet(s"$dir/emb.parquet")
    cat.registerAll()
    assert(Shell.execute("kmeans emb 4", spark, cat, dir))
    assert(spark.table("emb_kmeans")
      .select("cell_id").distinct().count() <= 4)

    // quantized-IVF ANN over the same table: 10 queries x k rows max
    assert(Shell.execute("ann emb 3", spark, cat, dir))
    val ann = spark.table("emb_ann")
    assert(ann.count() > 0)
    assert(ann.groupBy("query_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0) <= 3)

    assert(!Shell.execute("exit", spark, cat, dir))
  }

  /** What `line` prints, after checking the session goes on. */
  private def printed(line: String, cat: Catalog, dir: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(assert(Shell.execute(line, spark, cat, dir)))
    out.toString("UTF-8")
  }

  /** `run <entry>` shows the entry's frame: every column in the header. */
  private def runs(cat: Catalog, dir: String, entries: String*): Unit =
    entries.foreach { e =>
      val shown = printed(s"run $e", cat, dir)
      SparkEntry.queries(e)(spark, dir).columns.foreach(c =>
        assert(shown.contains(s"|$c"), s"run $e printed no column $c:\n$shown"))
    }

  test("run with no entry lists every driver entry by name") {
    val cat = new Catalog(spark, sfDir)
    assert(printed("run", cat, sfDir).linesIterator.toSeq ==
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("run with an unknown entry says so and the session goes on") {
    val cat = new Catalog(spark, sfDir)
    assert(printed("run no_such_entry", cat, sfDir).trim == "no such entry: no_such_entry")
    assert(printed("run q1_agg", cat, sfDir).contains("|l_returnflag"))
  }

  test("graph verbs rank and census the trade network from the shell") {
    // driver entries over the star-schema dir itself
    val cat = new Catalog(spark, sfDir)
    runs(cat, sfDir, "g_pagerank", "g_triangles", "g_degree", "g_bfs", "q_gini",
      "q_integrity", "e_late_audit")
    assert(Shell.execute("vacuum", spark, cat, sfDir))
  }

  test("card verbs: analyze/abc/rfm/benford/changepoints run from the shell") {
    val cat = new Catalog(spark, sfDir)
    assert(Shell.execute("analyze lineitem l_orderkey l_returnflag", spark, cat, sfDir))
    assert(Shell.execute("analyze nation", spark, cat, sfDir))
    runs(cat, sfDir, "q_abc", "q_rfm", "q_benford", "e_cusum")
  }

  test("round-7c verbs: kcore/jaccard/dbscan/silhouette/chi2/acf/ttl") {
    val cat = new Catalog(spark, sfDir)
    runs(cat, sfDir, "g_kcore", "g_jaccard", "s_dbscan", "s_silhouette", "q_chi2",
      "e_acf", "d_dedup_eval", "q_drawdown")
    // ttl writes a snapshot — run it against a writable copy
    val dir = tempDir("graft-shell-ttl").toString
    Tables.orders(spark, sfDir).write.parquet(s"$dir/orders.parquet")
    val wcat = new Catalog(spark, dir)
    wcat.registerAll()
    assert(Shell.execute("ttl orders o_orderdate 883612800000000",
      spark, wcat, dir))
    assert(wcat.snapshotVersions("orders_ttl") == Seq(1))
  }

  test("round-9 verbs: quality/attribution/token_budget/mmr/ttest/anova") {
    val cat = new Catalog(spark, sfDir)
    runs(cat, sfDir, "t_quality_model", "t_quality_scores", "e_attribution",
      "p_token_budget", "s_mmr", "q_ttest", "q_anova", "q_survival", "q_mwu",
      "e_attribution_multi", "g_harmonic")
  }

  test("round-12 verbs: phrase / pca run from the shell") {
    val cat = new Catalog(spark, sfDir)
    // free-text arguments go through the SQL table functions
    assert(printed(s"SELECT * FROM graft_bm25_phrase('$sfDir', 'data join')",
      cat, sfDir).contains("|doc_id"))
    runs(cat, sfDir, "s_pca_k")
  }

  test("round-13 verbs: hardneg / zonemap run from the shell") {
    val cat = new Catalog(spark, sfDir,
      Some(tempDir("graft-shell-zm").toString))
    runs(cat, sfDir, "s_hard_negatives", "fs_zonemap")
  }

  test("publish and explain verbs run from the shell") {
    val dir = tempDir("graft-shell-pub").toString
    Tables.documents(spark, sfDir).write.parquet(s"$dir/documents.parquet")
    val cat = new Catalog(spark, dir)
    cat.registerAll()
    assert(Shell.execute("publish documents release_v1", spark, cat, dir))
    assert(cat.loadDerived("release_v1/shards").count() > 0)
    assert(Shell.execute("explain SELECT count(*) FROM documents", spark, cat, dir))
    assert(Shell.execute("skew documents doc_id", spark, cat, dir))
    assert(Shell.execute("histogram documents n_chars", spark, cat, dir))
  }
}
