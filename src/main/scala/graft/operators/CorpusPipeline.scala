package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition a
  * training-data owner actually runs, built only from this library's
  * individually-verified operators. ONE stage sequence, the map →
  * shuffle → reduce shape of a MapReduce job:
  *
  *   1. fused scan ([[fusedScan]]): quality score + language ID, the
  *      content digest and the MinHash signature in ONE map-only pass,
  *      filtered by the quality floor + language allowlist
  *   2. exact dedup: a keeper window over the content digest
  *   3. near dedup: MinHash-LSH over the keepers' signatures →
  *      transitive chain resolution (connected components), keeping
  *      each dup cluster's smallest doc
  *   4. benchmark decontamination: drop docs sharing ≥ k shingles with
  *      any benchmark doc (benchmark side broadcasts)
  *   5. deterministic train/val/test split (salted-hash, map-only)
  *
  * The only wide shuffles are the ones the algorithms require (keeper
  * window, candidate join, component propagation over the pair set).
  * Two entry points run that sequence, both pinning its fan-out points
  * in the session:
  *
  *   - [[prepare]] prepares a corpus on its own;
  *   - [[prepareIncrement]] prepares a new batch against an existing
  *     corpus's signature index; only its component resolution differs.
  */
object CorpusPipeline {

  case class Config(
      minQuality: Double = 0.3,
      langs: Set[String] = Set.empty, // empty = keep every language
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccard: Double = 0.5,
      maxBucket: Int = 0,
      minSharedShingles: Long = 3)

  /** `release()` unpersists the pinned intermediates — call it once the
    * corpus has been written out (or fully consumed). Without it a
    * session that runs prepare() repeatedly accumulates pins.
    * `stages` carries each stage's surviving frame (input → … → clean)
    * for attrition reporting — the same objects the pipeline composed,
    * so counting them reuses the pins. */
  case class Result(corpus: DataFrame,
      pinned: Seq[DataFrame] = Nil,
      stages: Seq[(String, DataFrame)] = Nil,
      dropSets: Seq[(String, DataFrame)] = Nil) {
    def release(): Unit = pinned.foreach(_.unpersist(false))
  }

  /** The signal projection: the token array `tk`, the exact-dedup
    * content digest `h`, and the quality + language signals
    * ([[TextAnalysis.qualityScore]], [[TextAnalysis.predLang]]) over
    * the [[TextAnalysis.signalCounts]] stage. The token array flows
    * BETWEEN the projections as a column, so the text is tokenized
    * exactly once; a consumer that drops `h` or `tk` never computes
    * it. */
  private def scored(docs: DataFrame): DataFrame = {
    import TextAnalysis._
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"),
        md5(encode(col("text"), "UTF-8")).as("h"))
      .select(Seq(col("doc_id"), col("text"), col("tk"), col("h")) ++
        signalCounts: _*)
      .select(col("doc_id"), col("text"), col("tk"), col("h"),
        qualityScore.as("quality_score"), predLang.as("pred_lang"))
  }

  /** Quality + language signals in one scan: the same expressions as
    * TextAnalysis.quality / langId (which stay separate because each is
    * an oracle-verified query), evaluated together so the corpus is
    * read once. */
  def signals(docs: DataFrame): DataFrame =
    scored(docs).select(col("doc_id"), col("text"), col("quality_score"),
      col("pred_lang"))

  /** ONE fused corpus scan for the whole pipeline: the [[scored]]
    * signals and digest plus the MinHash signature (LSH minhashes +
    * distinct shingle-hash set) from a single map-only pass. The
    * quality/language filter sits between scoring and signing, so
    * dropped rows never pay the k-hash signing. Every expression is the
    * SAME kernel its standalone operator uses (TextAnalysis signals,
    * md5 digest, [[Dedup.signatures]]' row-local MinHashSig), so
    * downstream values — and every oracle — are bit-identical to the
    * unfused stages. */
  private def fusedScan(docs: DataFrame, cfg: Config): DataFrame =
    scored(docs)
      .where(col("quality_score") >= cfg.minQuality &&
        (if (cfg.langs.isEmpty) lit(true) else col("pred_lang").isin(cfg.langs.toSeq: _*)))
      .select(col("doc_id"), col("text"), col("h"),
        col("quality_score"), col("pred_lang"),
        graft.functions.MinHashSig.minhashSig(col("tk"), cfg.shingleN,
          cfg.numHashes).as("s"))

  /** The stage sequence both entry points run. It pins the two fan-out
    * points (the signed scan `quality_lang` feeds the keeper window AND
    * the anti-join; `near_dedup` feeds decontamination AND the result)
    * with evictable MEMORY_AND_DISK storage and records them for
    * [[Result.release]]. `corpusIndex` switches on the incremental
    * component resolution of [[prepareIncrement]].
    *
    * The exact-dedup keeper is one `row_number` window over the content
    * digest (one exchange, not an aggregate + join-back); the LSH stage
    * consumes the scan's signatures ([[Dedup.minhashLshSigned]]) instead
    * of re-tokenizing, and decontamination explodes the scan's distinct
    * shingle-hash set instead of re-shingling the surviving corpus. */
  private def run(docs: DataFrame, benchmark: Option[DataFrame], cfg: Config,
      corpusIndex: Option[DataFrame]): Result = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one corpus read: signals + digest + signatures.
    // (A pre-scan repartition to parallelize single-split inputs was
    // measured and REJECTED: at bench SF the extra exchange + stage
    // cost more than the single-core signing it spread out, and at
    // production scale the input has more splits than cores anyway.)
    val filtered = fusedScan(docs, cfg).persist(MEMORY_AND_DISK)
    // exact-dedup losers (every non-min doc_id of a content-hash clone
    // cluster) rank over a TWO-COLUMN projection of the scan — the only
    // thing that shuffles is (doc_id, h), never text or signatures —
    // and come back as a broadcast anti-join. Losers are O(clones):
    // broadcast-sized whenever exact dedup is feasible at all.
    val losers = filtered.select(col("doc_id"), col("h"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .where(col("__rn") > 1).select(col("doc_id"))
    val unique = filtered.join(broadcast(losers), Seq("doc_id"), "left_anti")
    val sigCols = col("doc_id") +:
      (0 until cfg.numHashes).map(i =>
        element_at(col("s.mh"), i + 1).as(s"mh$i")) :+ col("s.ss").as("ss")
    val signed = unique.where(col("s").isNotNull).select(sigCols: _*)
    val pairs = Dedup.minhashLshSigned(signed,
      cfg.numHashes, cfg.bands, cfg.jaccard, cfg.maxBucket)
    // transitive resolution (each component keeps its min id) as a
    // named DROP SET: attrition counts it directly (each stage is a subset of
    // the previous, so survivor counts are running differences) instead
    // of recounting the stacked anti-joined frames
    val comp = Dedup.connectedComponents(pairs)
    val nonMin = comp.where(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val nearDrops = corpusIndex.fold(nonMin) { index =>
      // corpus priority: a batch component touching the corpus drops
      // ENTIRELY (its representative already lives in the corpus);
      // unpaired docs are their own component
      val touched = Dedup.dedupAgainstIndexSigned(index, signed,
          cfg.numHashes, cfg.bands, cfg.jaccard, cfg.maxBucket)
        .select(col("new_id").as("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(coalesce(col("component"), col("doc_id")).as("component"))
      nonMin
        .unionByName(comp.join(touched, "component").select(col("id").as("doc_id")))
        .unionByName(touched.select(col("component").as("doc_id")))
    }
    val deduped = unique.join(nearDrops, Seq("doc_id"), "left_anti")
      .persist(MEMORY_AND_DISK)

    val (clean, flaggedSet) = benchmark match {
      case Some(bench) =>
        // shared-shingle flags from the scan's distinct shingle sets —
        // the same values Dedup.contamination derives by re-shingling
        val corpusShingles = deduped
          .select(col("doc_id"), explode(col("s.ss")).as("sh"))
        val benchShingles = Dedup.hashedShingles(bench, cfg.shingleN).distinct()
          .select(col("h").as("sh"), col("doc_id").as("bench_id"))
        // no distinct: left_anti below is duplicate-insensitive, and
        // the extra exchange buys nothing
        val flagged = corpusShingles.join(broadcast(benchShingles), "sh")
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= cfg.minSharedShingles)
          .select(col("doc_id"))
        (deduped.join(flagged, Seq("doc_id"), "left_anti"), Some(flagged))
      case None => (deduped, None)
    }

    // split assignment is a pure column — no join, stays map-only
    val split = clean.withColumn("split", Sampling.splitColumn(col("doc_id")))
      .drop("h", "s")
    Result(split, Seq(filtered, deduped), Seq(
      "input" -> docs, "quality_lang" -> filtered, "exact_dedup" -> unique,
      "near_dedup" -> deduped, "decontaminated" -> clean),
      Seq("exact_losers" -> losers, "near_drops" -> nearDrops) ++
        flaggedSet.map("contaminated" -> _))
  }

  /** Run the full preparation in this session. `benchmark` is the eval
    * set to decontaminate against (None skips the stage). Call
    * [[Result.release]] once the corpus is consumed. */
  def prepare(docs: DataFrame, benchmark: Option[DataFrame] = None,
      cfg: Config = Config()): Result =
    run(docs, benchmark, cfg, None)

  /** Attrition report — "where did my data go": surviving document
    * count after each stage. One MELTED counting pass (round 14):
    * instead of recounting each progressively-stacked stage frame —
    * whose five union branches each re-planned the full pipeline and
    * whose broadcast subtrees raced the cache fill (measured: eight
    * concurrent ~0.8 s jobs all recomputing the unfilled scan) — the
    * job counts the input, the filtered frame, and the three DROP SETS
    * (exact losers, near-dup drops, contaminated ids), each a tiny
    * O(drops) frame computed exactly once. Stage survivor counts are
    * the running differences, identical by construction because every
    * stage is a subset of its predecessor: losers ⊆ filtered's ids
    * (one row per doc), near-drops ⊆ unique's ids (one row per paired
    * id), flagged ⊆ deduped's ids. Collected eagerly so the pins can
    * be released before the 5-literal-row result escapes. */
  def attrition(docs: DataFrame, benchmark: Option[DataFrame] = None,
      cfg: Config = Config()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val r = prepare(docs, benchmark, cfg)
    try {
      val drops = r.dropSets.toMap
      val filtered = r.stages.toMap.apply("quality_lang")
      val branches = Seq(
        docs.agg(count(lit(1)).as("n")).select(lit("input").as("s"), col("n")),
        filtered.agg(count(lit(1)).as("n"))
          .select(lit("quality_lang").as("s"), col("n")),
        drops("exact_losers").agg(count(lit(1)).as("n"))
          .select(lit("exact_losers").as("s"), col("n")),
        drops("near_drops").agg(count(lit(1)).as("n"))
          .select(lit("near_drops").as("s"), col("n"))) ++
        drops.get("contaminated").map(f => f.distinct()
          .agg(count(lit(1)).as("n")).select(lit("contaminated").as("s"), col("n")))
      val m = branches.reduce(_ unionAll _)
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      val nQl = m("quality_lang")
      val nEx = nQl - m("exact_losers")
      val nNd = nEx - m("near_drops")
      Seq(
        "input" -> m("input"), "quality_lang" -> nQl, "exact_dedup" -> nEx,
        "near_dedup" -> nNd,
        "decontaminated" -> (nNd - m.getOrElse("contaminated", 0L)))
        .toDF("stage", "n_docs")
    } finally r.release()
  }

  /** INCREMENTAL preparation — the daily-batch shape: a new batch is
    * prepared against an IMMUTABLE existing corpus represented only by
    * its signature index ([[graft.operators.Dedup.buildMinhashIndex]]
    * over the FULL pre-dedup corpus — dropped docs included, so chains
    * through them are seen). Corpus text is never re-read; corpus
    * membership never changes.
    *
    * The batch runs the [[prepare]] sequence (one fused scan signs it
    * exactly ONCE for both the in-batch LSH and the index probe); only
    * component resolution differs: batch keepers sharing an
    * LSH-verified pair with ANY corpus signature
    * ([[Dedup.dedupAgainstIndexSigned]]) drop with their whole batch
    * component, and a batch-only component keeps its min id.
    *
    * When batch ids are newer than all corpus ids (the production
    * invariant), the admitted set EQUALS the batch rows of a monolithic
    * [[prepare]] over corpus ∪ batch (spec-asserted) — at a fraction of
    * the cost, since the corpus side is only probed through the index.
    * Sign the admitted docs ([[Dedup.buildMinhashIndex]]) and append to
    * the index to absorb the batch. */
  def prepareIncrement(newDocs: DataFrame, corpusIndex: DataFrame,
      benchmark: Option[DataFrame] = None, cfg: Config = Config()): Result =
    run(newDocs, benchmark, cfg, Some(corpusIndex))

  /** PUBLISH — the dataset-release verb: [[prepare]] the corpus, give
    * it the deterministic training order/sharding, and COMMIT the
    * release as Catalog-owned durable state with its audit sidecars:
    * `<dest>/shards` (the kept docs + split/pos/shard), `/manifest`
    * (per-shard doc/token/char/source census), `/datasheet` (the
    * integer corpus card), `/contract` (text-nonempty + unique-id
    * violations — a publisher gates on max == 0). Everything rides
    * [[graft.sources.Catalog.saveDerived]]'s manifest commit, so a
    * torn publish never serves and a FRESH session reads the
    * release from disk alone. Returns the release summary as an
    * integer (metric, value) card. */
  def publish(cat: graft.sources.Catalog, docs: DataFrame, dest: String,
      shardSize: Long = 1000): DataFrame = {
    val r = prepare(docs)
    try {
      val kept = docs.join(r.corpus.select(col("doc_id"), col("split")), "doc_id")
      val sharded = kept.join(
        Sampling.shuffleOrder(kept, shardSize), "doc_id")
      cat.saveDerived(s"$dest/shards", sharded)
      cat.saveDerived(s"$dest/manifest",
        Sampling.shardManifest(kept, shardSize))
      cat.saveDerived(s"$dest/datasheet", TextAnalysis.datasheet(kept))
      cat.saveDerived(s"$dest/contract",
        graft.sources.Catalog.contractCard(kept,
          predicates = Seq("text_nonempty" -> (length(col("text")) > 0)),
          uniqueKeys = Seq("doc_id_unique" -> "doc_id")))
    } finally r.release()
    val sh = cat.loadDerived(s"$dest/shards")
    val base = sh.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("shard")).as("n_shards"))
    val viol = cat.loadDerived(s"$dest/contract")
      .agg(max(col("n_violations")).as("max_violations"))
    val one = base.crossJoin(broadcast(viol))
    Seq("n_docs", "n_shards", "max_violations").map(m =>
        one.select(lit(m).as("metric"), col(m).cast("long").as("value")))
      .reduce(_ unionAll _)
  }
}
