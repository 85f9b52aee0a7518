package graft

import scala.io.StdIn
import org.apache.spark.sql.SparkSession
import graft.operators.{CorpusPipeline, Dedup}
import graft.sources.Catalog

/** Interactive client shell — the analog of the reference DFS CLI
  * (reference: dfs/client/cli.go ls/upload/download/stats loop), with
  * SQL as the query surface and `run <entry>` as the job submission:
  * the reference client names a canned job together with a data dir,
  * and here the canned jobs are the driver entries
  * ([[SparkEntry.queries]]) over the shell's dir. The other verbs act
  * on a user-named table or on the Catalog's state: an operator a SQL
  * string can't express — multi-stage, stateful, writes a table — runs
  * as one verb over registered tables and lands back in the catalog as
  * a registered table or view.
  *
  * Commands:
  *   ls | stats | nodes      tables, per-table rows + bytes, executor stats
  *   download <tbl> <dir>    reassemble a table to one local file
  *   delete <tbl>            drop a table's files
  *   run [entry]             show driver entry <entry> over the data dir;
  *                           with no argument, list the entry names
  *   prep <src> <dest>       full corpus preparation of table <src>,
  *                           written + registered as <dest>
  *   index <src> <dest>      MinHash signature index over <src>
  *   prep_incr <new> <index> <dest>
  *                           incremental prep of batch <new> against
  *                           signature index <index>
  *   neardup | bpe | buckets | kmeans | ann <src> [n]
  *                           register an operator's output over <src>
  *                           as the view <src>_<suffix>
  *   publish <src> <dest>    prep → shard → committed release
  *   analyze | skew | histogram | ttl <tbl> ...
  *                           column profile, key skew, equi-depth
  *                           histogram, retention purge
  *   vacuum | maintain [segs] clean up and compact the derived state
  *   explain | doctor | doctor! <sql>
  *                           physical plan, plan lint, gating plan lint
  *   help                    the verb list
  *   exit | quit             leave
  *   anything else           executed as Spark SQL over the registered
  *                           tables; the graft_* table functions
  *                           (e.g. graft_bm25(dir, terms)) reach the
  *                           operators that take free-form arguments
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
        println("ls | stats | nodes | download <tbl> <dir> | delete <tbl> | run [entry] | " +
          "prep <src> <dest> | index <src> <dest> | prep_incr <new> <index> <dest> | " +
          "neardup <src> [t] | bpe <src> [n] | buckets <src> | kmeans <src> [k] | " +
          "ann <src> [k] | publish <src> <dest> | analyze <tbl> [cols...] | " +
          "skew <tbl> <col> | histogram <tbl> <col> | ttl <tbl> <col> <micros> | " +
          "vacuum | maintain [segs] | explain <sql> | doctor <sql> | doctor! <sql> | " +
          "exit | <sql> (graft_* table functions too, e.g. graft_bm25(dir, terms))")
      case "run" :: Nil => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "run" :: entry :: Nil => SparkEntry.queries.get(entry) match {
        case Some(q) => q(spark, dir).show(50, truncate = false)
        case None => println(s"no such entry: $entry")
      }
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
      case "publish" :: src :: dest :: Nil =>
        // end-to-end release: prep → shard → committed shards +
        // manifest/datasheet/contract sidecars under the Catalog
        operators.CorpusPipeline.publish(cat, cat.table(src), dest)
          .show(truncate = false)
        println(s"published $src -> ${cat.derivedDir}/$dest")
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
