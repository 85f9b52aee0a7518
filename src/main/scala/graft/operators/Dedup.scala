package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Deduplication family for training-data pipelines.
  *
  * Scale ladder (100 TB):
  *  - exact: one hash-groupBy — fully linear, ALWAYS the first pass
  *    (clone clusters otherwise turn LSH buckets quadratic: measured
  *    30× on a 95%-dup corpus, see PLANS.md scale smoke).
  *  - nearDupPipeline: the production composition — exact, then
  *    minhashLsh over the keepers.
  *  - minhashLsh: the scale path for near-dup — O(n·k) signatures, band
  *    bucketing makes candidate generation linear; only candidates pay
  *    the exact-Jaccard verification; `maxBucket` caps hot buckets.
  *  - ngramJaccard: exact pairwise on shingle inverted index — quadratic
  *    in bucket size; used standalone only at small scale, otherwise as
  *    the verifier behind LSH candidates.
  *  - simhash: 60-bit signature, 4×15-bit band self-join, hamming verify
  *    ([[hammingPairs]], shared with the image dHash near-dup).
  *  - embeddingNearDup: cosine threshold pairs; quadratic baseline, with
  *    Similarity.semanticDedup (cell-bounded) as the scale path.
  */
object Dedup {

  /** The MinHash/LSH defaults every near-dup form shares: word n-gram
    * width, signature length, LSH bands and the Jaccard cutoff, plus the
    * shared-shingle floor of benchmark decontamination. */
  private[operators] val ShingleN = 3
  private[operators] val NumHashes = 64
  private val Bands = 16
  private val JaccardThreshold = 0.5
  private[operators] val MinShared = 3L

  /** Hot-bucket cap: drop every row whose `keys` group holds more than
    * `maxBucket` rows (`maxBucket <= 0` keeps all). A bucket of b rows
    * contributes O(b²) pairs to the self-join on `keys` that follows, and
    * at corpus scale one hot bucket (a boilerplate shingle, a surviving
    * dup cluster) turns into the whole job. The window partitions exactly
    * like that join, so the cap costs no extra exchange (ReuseExchange). */
  private def capBuckets(df: DataFrame, maxBucket: Int, keys: Column*): DataFrame =
    if (maxBucket <= 0) df
    else {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("bsz", count(lit(1)).over(Window.partitionBy(keys: _*)))
        .where(col("bsz") <= maxBucket)
        .drop("bsz")
    }

  /** Exact dedup: content hash → keeper (min doc_id) + multiplicity. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(encode(col("text"), "UTF-8")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Explode shingle POSITIONS first, then assemble each gram with
    * element_at/concat_ws — every expression here codegens. The
    * alternative (a `transform` lambda building the gram list, then
    * explode) is a higher-order function: CodegenFallback, which would
    * interpret the scan stage of the whole dedup family. */
  private def rawShingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(o => element_at(col("w"), col("i") + o)): _*)
          .as("shingle"))

  /** Non-distinct hashed shingles: (doc_id, h: Long), via the native
    * row-local `shingle_hashes` expression — the scan emits one
    * array<long> per doc and only 8-byte hashes fan out of the explode.
    * The string-building formulation this replaced exploded the shingle
    * INDEX first, so Generate copied the full token array once per
    * shingle: O(tokens²) bytes through the scan stage per document.
    * Hash values are identical (same XXH64 kernel over the same
    * space-joined gram bytes), so every downstream oracle is untouched. */
  def hashedShingles(docs: DataFrame, n: Int): DataFrame =
    graft.Tables.spreadSmall(docs, "doc_id") // heavy tokenise+hash map stage
      .select(col("doc_id"), explode(graft.functions.ShingleHashes.shingleHashes(
        TextAnalysis.tokens(col("text")), n)).as("h"))

  /** Shingle-overlap counts, the inverted-index kernel of [[ngramJaccard]]
    * and [[containmentPairs]]: (id_a < id_b, n_inter, sz_a, sz_b) for
    * every doc pair sharing a hashed shingle, with each doc's distinct
    * shingle count. The self-join on shingle is the candidate generator;
    * long-hash shingles make it shuffle 8-byte keys instead of n-word
    * strings (same pair set modulo 64-bit collisions). The distinct
    * shingle frame fans out three ways (sizes aggregate + both sides of
    * the self-join); localCheckpoint pins it once so the
    * tokenize+shingle+hash+distinct lineage runs once, not three times
    * (blocks are freed by the context cleaner when the frame is dropped).
    *
    * `maxBucket` > 0 drops posting lists longer than that before the
    * join ([[capBuckets]]): pairs that RELY on hot shingles under-count
    * their intersection (the recall trade of the capped ladder), while
    * pairs sharing any uncapped shingle keep their TRUE set sizes — the
    * sizes come from the uncapped frame. */
  private def shingleOverlaps(docs: DataFrame, n: Int, maxBucket: Int): DataFrame = {
    val sh = hashedShingles(docs, n).distinct().localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val posting = capBuckets(sh, maxBucket, col("h"))
    posting.as("a")
      .join(posting.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs via a shingle inverted index
    * ([[shingleOverlaps]]); count/union arithmetic is all-integer so the
    * Jaccard double is engine-exact. */
  def ngramJaccard(docs: DataFrame, n: Int = ShingleN,
      threshold: Double = JaccardThreshold): DataFrame =
    shingleOverlaps(docs, n, maxBucket = 0)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), graft.functions.Exact.round6(col("jaccard")).as("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold over
    * shingle sets. Containment catches the asymmetric shape symmetric
    * Jaccard structurally misses — a short document embedded verbatim
    * in a much longer one has Jaccard ≈ |small|/|big| (arbitrarily low)
    * but containment ≈ 1. The quote/boilerplate/wrapped-repost pass of
    * a training-data pipeline filters on this, not Jaccard.
    *
    * Same inverted-index kernel (and scale class) as [[ngramJaccard]]:
    * quadratic per shingle bucket, so it is the verifier / small-scale
    * path; at corpus scale [[containmentAuto]] caps hot posting lists
    * (`maxBucket`, see [[shingleOverlaps]]). The arithmetic is
    * all-integer either way. */
  def containmentPairs(docs: DataFrame, n: Int = ShingleN, threshold: Double = 0.6): DataFrame =
    containment(shingleOverlaps(docs, n, maxBucket = 0), threshold)

  /** The containment ratio and cutoff over [[shingleOverlaps]] rows. */
  private def containment(overlaps: DataFrame, threshold: Double): DataFrame =
    overlaps
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Exact.round6(col("containment")).as("containment"))

  /** Bounded size probe shared by the auto-ladder entry points: counts
    * at most `maxRows + 1` ids, so the routing decision is O(maxRows)
    * on any input — it never scans a 100 TB corpus to decide. */
  private def atMost(df: DataFrame, idCol: String, maxRows: Long): Boolean = {
    // clamp: maxRows near/above Int.MaxValue must not wrap the limit()
    // argument negative; a bound that high means the caller explicitly
    // wants the exact path regardless
    val probeCap = math.min(maxRows, (Int.MaxValue - 1).toLong).toInt + 1
    df.select(col(idCol)).limit(probeCap).count() <= maxRows
  }

  /** THE text near-dup entry point — routes by corpus size, mirroring
    * [[embeddingDedup]]: at or below `exactMaxRows` the exact
    * inverted-index [[ngramJaccard]] runs (every pair, engine-exact
    * arithmetic); above it the [[minhashLsh]] ladder runs instead —
    * map-only native signing, banded candidates under a hot-bucket cap,
    * exact-Jaccard verification — so the per-shingle quadratic
    * candidate blow-up cannot be reached by default at scale. Same
    * output schema either way (id_a, id_b, jaccard ≥ threshold); the
    * LSH arm's recall is the quantified trade
    * ([[graft.MinhashRecallSpec]] pins it in the hard regime). */
  def nearDupAuto(docs: DataFrame, n: Int = ShingleN,
      threshold: Double = JaccardThreshold, exactMaxRows: Long = 10000): DataFrame =
    if (atMost(docs, "doc_id", exactMaxRows)) ngramJaccard(docs, n, threshold)
    else minhashLsh(docs, n, threshold = threshold, maxBucket = 1000)

  /** Containment twin of [[nearDupAuto]]: exact [[containmentPairs]]
    * below `exactMaxRows`, the capped-posting-list form above it (see
    * [[shingleOverlaps]] for the recall contract). */
  def containmentAuto(docs: DataFrame, n: Int = ShingleN, threshold: Double = 0.6,
      exactMaxRows: Long = 10000, maxBucket: Int = 1000): DataFrame =
    containment(shingleOverlaps(docs, n,
      if (atMost(docs, "doc_id", exactMaxRows)) 0 else maxBucket), threshold)

  /** MinHash signature table: doc_id, mh0..mh{k-1}, ss (verification
    * shingle-hash set). Computed ROW-LOCALLY by the native codegen'd
    * `minhash_sig` expression ([[graft.functions.MinHashSig]]): the
    * whole signing stage is a map-only projection of the corpus scan —
    * ZERO shuffle (the aggregate formulation this replaced shuffled
    * every shingle hash of the corpus into a groupBy(doc_id); at 100 TB
    * that exchange was the signature build's entire cost). Row-local
    * signing is also what lets a Structured Streaming ingest gate sign
    * documents mid-stream ([[graft.streaming.EventStream]]). In an
    * incremental deployment this table is the INDEX: persist it once
    * (e.g. Catalog.writeBucketed on doc_id) and only new batches are
    * ever re-signed. */
  private def signatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    // the k-hash signing is the heavy map stage of the whole minhash
    // family — spread a single-split input so it runs on every core
    unpackSignatures(graft.Tables.spreadSmall(docs, "doc_id")
      .select(col("doc_id"), graft.functions.MinHashSig.minhashSig(
        TextAnalysis.tokens(col("text")), n, numHashes).as("s")), numHashes)

  /** The signature table's columns (doc_id, mh0..mh{k-1}, ss) from a
    * frame carrying the `minhash_sig` struct as `s`; rows without a
    * signature (fewer than n tokens) drop. */
  private[operators] def unpackSignatures(signed: DataFrame,
      numHashes: Int): DataFrame =
    signed.where(col("s").isNotNull).select(col("doc_id") +:
      (0 until numHashes).map(i => element_at(col("s.mh"), i + 1).as(s"mh$i")) :+
      col("s.ss").as("ss"): _*)

  /** The aggregate formulation [[signatures]] replaced — exploded
    * shingles, groupBy(doc_id), k min() aggregates + collect_set. Kept
    * (test-only) as the independent reference the row-local signer is
    * asserted bit-identical against. */
  private[graft] def aggSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame = {
    val sh = hashedShingles(docs, n)
    val minCols = (0 until numHashes).map { i =>
      min(xxhash64(col("h"), lit(i))).as(s"mh$i")
    }
    val aggCols = minCols.tail :+ collect_set(col("h")).as("ss")
    sh.groupBy(col("doc_id")).agg(minCols.head, aggCols: _*)
  }

  /** Band keys: (doc_id, band, bh) — one hash of each band's minhash
    * slice (column order is fixed). */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide the $numHashes minhashes, one of " +
        s"${(1 to numHashes).filter(numHashes % _ == 0).mkString(", ")}: got $bands")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** MinHash + LSH banding near-dup detection — the 100 TB path.
    *
    * k seeded xxhash64 functions over the shingle set → k-wide signature;
    * signatures are cut into `bands` bands whose hash is the LSH bucket
    * key; docs sharing any band bucket become candidates; candidates are
    * verified with exact Jaccard (array_intersect on collected shingle
    * sets). Everything before verification is linear in corpus size.
    * `bands` must divide `numHashes` (every minhash lands in exactly one
    * band); any other count is an IllegalArgumentException naming the
    * accepted values.
    *
    * @param maxBucket when > 0, LSH buckets larger than this are dropped
    *   before the candidate self-join. A bucket of b docs contributes
    *   O(b²) candidate pairs, and at corpus scale the heavy tail of
    *   near-identical clusters (the thing exact dedup removes) turns one
    *   hot bucket into the whole job's runtime. Oversized buckets are by
    *   construction exact-dup clusters — run [[exact]] first and near-dup
    *   only the keepers (the documented scale ladder), with the cap as
    *   the safety valve against clusters that survive. */
  def minhashLsh(
      docs: DataFrame, n: Int = ShingleN, numHashes: Int = NumHashes,
      bands: Int = Bands, threshold: Double = JaccardThreshold,
      maxBucket: Int = 0): DataFrame =
    minhashLshSigned(signatures(docs, n, numHashes), numHashes, bands,
      threshold, maxBucket)

  /** [[minhashLsh]] over a PRE-SIGNED frame (doc_id, mh0..mh{k-1},
    * ss) — the stage-fused corpus-prep path signs documents inside its
    * one signal scan and hands the signatures straight here, so the
    * corpus text is never re-tokenized for the LSH stage. Signature
    * values are the row-local [[signatures]] kernel's, so the pair set
    * (and every downstream oracle) is identical to the unfused form. */
  def minhashLshSigned(
      sig: DataFrame, numHashes: Int = NumHashes, bands: Int = Bands,
      threshold: Double = JaccardThreshold, maxBucket: Int = 0): DataFrame =
    bandPairs(sig, sig, numHashes, bands, threshold, maxBucket, _ < _)

  /** Verified MinHash pairs (id_a from `sigA`, id_b from `sigB`,
    * jaccard ≥ threshold): the band-key candidate join plus exact-Jaccard
    * verify that within-set ([[minhashLshSigned]]: both sides the same
    * frame, `pair` = id_a < id_b) and cross-set
    * ([[dedupAgainstIndexSigned]]: every candidate pair) dedup share.
    * Both sides' buckets are capped ([[capBuckets]]) — a dup cluster
    * concentrated on either side blows the join up just the same.
    * Verification touches candidates only (long-set intersection; each
    * sets side is already hash-partitioned by doc_id from the signature
    * stage — Catalyst reuses that exchange). */
  private def bandPairs(sigA: DataFrame, sigB: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, maxBucket: Int,
      pair: (Column, Column) => Column): DataFrame = {
    def banded(sig: DataFrame) =
      capBuckets(bandKeys(sig, numHashes, bands), maxBucket, col("band"), col("bh"))
    val candidates = banded(sigA).as("x")
      .join(banded(sigB).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          pair(col("x.doc_id"), col("y.doc_id")))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(sigA.select(col("doc_id"), col("ss")).as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sigB.select(col("doc_id"), col("ss")).as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("n_inter", size(array_intersect(col("sa.ss"), col("sb.ss"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sa.ss")) + size(col("sb.ss")) - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), graft.functions.Exact.round6(col("jaccard")).as("jaccard"))
  }

  /** Character-level FUZZY dedup rung: the MinHash-LSH near-dup pairs
    * additionally verified by edit distance — catches true re-edits
    * (small character deltas) and splits them from template-style
    * near-dups that share vocabulary but differ by many edits. The
    * Levenshtein verify runs ONLY on the already-verified near-dup pair
    * set (tiny by then), never on candidates, so its per-pair cost is
    * bounded by the LSH output; text rides in via two doc_id joins, not
    * on any band exchange.
    *
    * Per-pair cost is bounded in DOCUMENT LENGTH too: a length-delta
    * prefilter (|len_a − len_b| > maxDist ⇒ distance > maxDist, no DP
    * needed) and the THRESHOLDED `levenshtein(l, r, maxDist)` — banded
    * DP that early-exits once the distance provably exceeds maxDist, so
    * a pair costs O(maxDist · min(len)) instead of O(len_a · len_b); a
    * single verified pair of 100 KB docs is ~10⁶ cells, not ~10¹⁰ on
    * one task. The 3-arg form returns −1 above the threshold, which is
    * exactly the rows the 2-arg form's `≤ maxDist` filter dropped —
    * results identical, oracle unchanged. */
  def fuzzyDedup(docs: DataFrame): DataFrame = {
    val maxDist = 8
    minhashLsh(docs)
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
      .where(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("edit_dist").cast("long").as("edit_dist"))
  }

  /** One-time MinHash signature index over a corpus — the text-dedup
    * analog of [[Similarity.buildIvfIndex]]: sign the corpus ONCE,
    * persist the result (`Catalog.writeChunked`, or bucketed by doc_id),
    * and run every future batch through
    * [[CorpusPipeline.prepareIncrement]] without ever re-reading corpus
    * text. Schema: doc_id, mh0..mh{k-1}, ss. */
  def buildMinhashIndex(corpus: DataFrame, n: Int = ShingleN,
      numHashes: Int = NumHashes): DataFrame = signatures(corpus, n, numHashes)

  /** [[dedupAgainst]] probing a PREBUILT signature index with a new
    * batch that is already signed: the corpus text is never touched
    * (the stage-fused incremental pipeline signs the batch once in its
    * signal scan and probes the index with the same signatures). The
    * index must be built with the default signature shape. */
  def dedupAgainstIndexSigned(sigIndex: DataFrame, sigNew: DataFrame,
      maxBucket: Int = 0): DataFrame =
    bandPairs(sigIndex, sigNew, NumHashes, Bands, JaccardThreshold, maxBucket,
      (_, _) => lit(true))
      .select(col("id_a").as("corpus_id"), col("id_b").as("new_id"), col("jaccard"))

  /** Incremental near-dup: verified pairs BETWEEN a new batch and an
    * existing corpus — the daily-ingest shape. Corpus-side signatures
    * are the persisted index in production (see [[signatures]]); only
    * the new batch is signed per run, the band join touches only
    * buckets the new batch lands in, and no corpus-corpus pair is ever
    * scored. Emits (corpus_id, new_id, jaccard ≥ threshold); feed
    * new_ids into an anti-join to admit only novel documents. */
  def dedupAgainst(corpus: DataFrame, newDocs: DataFrame,
      maxBucket: Int = 0): DataFrame =
    dedupAgainstIndexSigned(signatures(corpus, ShingleN, NumHashes),
      signatures(newDocs, ShingleN, NumHashes), maxBucket)

  /** Dup-cluster size distribution — the audit view of a dedup run:
    * how many clusters of each size exist and how many docs each size
    * class would remove. Input is any pair set; components are resolved
    * first, so chains count as ONE cluster. O(paired docs) throughout. */
  def clusterSizes(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(
        count(lit(1)).as("n_clusters"),
        (sum(col("sz")) - count(lit(1))).as("docs_removed"))

  /** Release the blocks behind a localCheckpoint'd dataset. Checkpointed
    * RDDs are NOT tracked by the CacheManager, so `clearCache()` never
    * frees them — an iterative operator that checkpoints per round MUST
    * release superseded rounds itself or it leaks one full state table
    * per iteration (measured: a re-run of the corpus pipeline in one
    * JVM went 10.8 s → 34.9 s from the accumulated pins). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ =>
    }

  /** Connected components over a pair set (id_a, id_b) → (id, component)
    * with component = the smallest id reachable from `id`.
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors (one hash join + one
    * aggregate over the edge list), then a pointer-jump round
    * (label ← label's label) doubles the propagation distance, so a
    * chain of length d converges in ~log₂(d) rounds, not d. Lineage is
    * truncated every round (localCheckpoint) — without it the plan tree
    * doubles per iteration. Edge/label state is O(pairs), never the
    * corpus; this is the published large-scale CC recipe (hash-to-min,
    * cf. Rastogi et al. 2013) expressed as DataFrame joins.
    *
    * Below `localMaxPairs` the components are resolved by a driver-side
    * union-find instead (one collect of the already-checkpointed edge
    * list — two longs per edge, never text): the dup graph is
    * O(duplicates), vastly smaller than the corpus, and for the common
    * case the iterative loop's per-round jobs cost more than the whole
    * graph. Same ladder shape as [[embeddingDedup]]. */
  def connectedComponents(pairs: DataFrame,
      localMaxPairs: Long = 1000000L): DataFrame = {
    // symmetric expansion via explode, NOT unionAll of two selects: a
    // union executes the (potentially expensive — minhashLsh) pair DAG
    // twice inside the one checkpoint job; the explode reads it once
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)

    // SIZE-ROUTED, like the exact→LSH and exact→semantic ladders: the
    // dup-pair GRAPH is orders of magnitude smaller than the corpus
    // (it is O(duplicates), carries two longs per edge, and is already
    // materialized by the checkpoint — the count is free). Below
    // `localMaxPairs` (~16 MB of edges) a driver-side union-find
    // resolves components in one collect + O(p·α) instead of
    // 2·log₂(chain) distributed jobs — this is NOT a corpus collect,
    // and the distributed loop below remains the path for genuinely
    // huge dup graphs.
    val nEdges = edges.count()
    if (nEdges <= 2 * localMaxPairs) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
      releaseCheckpoint(edges)
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // attach the larger root under the smaller → a root can only
        // ever decrease, so each set's final root IS its minimum id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val ids = es.iterator.map(_._1).toArray.distinct // symmetric: src covers all nodes
      return spark.createDataset(ids.toSeq.map(id => (id, find(id))))
        .toDF("id", "component")
    }

    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < 25) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nmin"))
      // carry the pre-round label through the pipeline so convergence is
      // one count on the checkpointed result, not an extra join per round
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      val jumped = propagated.as("u")
        .join(propagated.select(col("id").as("jid"), col("label").as("jlabel")),
          col("u.label") === col("jid"), "left")
        .select(col("u.id").as("id"), col("u.old").as("old"),
          coalesce(col("jlabel"), col("u.label")).as("label"))
        .localCheckpoint(true)
      val changed = jumped.where(col("label") =!= col("old")).count()
      releaseCheckpoint(labels) // superseded round — jumped is materialized
      labels = jumped.select(col("id"), col("label"))
      converged = changed == 0
      i += 1
    }
    releaseCheckpoint(edges) // labels is materialized; edges are done
    labels.select(col("id"), col("label").as("component"))
  }

  /** Apply a near-dup pair set with a SURVIVORSHIP POLICY: resolve
    * connected components, then each dup cluster keeps its best
    * document by `metric` (descending; ties → smaller doc_id) instead
    * of the smallest id. This is what
    * production cleaning actually wants — of a near-dup cluster, keep
    * the longest / highest-quality copy, not an arbitrary ordinal.
    *
    * Scale shape: components over the pair
    * set (O(duplicates)), then the winner per component via one
    * max-struct aggregate over PAIRED docs only — the metric values of
    * unpaired docs never shuffle — and one anti-join pass over the
    * corpus. */
  def applyDedupKeepBest(docs: DataFrame, pairs: DataFrame,
      metric: Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val scored = docs.join(comp.withColumnRenamed("id", "doc_id"), "doc_id")
      .select(col("component"), col("doc_id"), metric.as("__m"))
    // lexicographic struct max == (max metric, then SMALLEST id): negate
    // the id so the struct max prefers smaller ids on metric ties
    val winners = scored
      .groupBy(col("component"))
      .agg(max(struct(col("__m"), (-col("doc_id")).as("nid"))).as("w"))
      .select((-col("w.nid")).as("keep_id"))
    val losers = comp.select(col("id").as("doc_id"))
      .join(winners, col("doc_id") === col("keep_id"), "left_anti")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The production near-dup pipeline: collapse exact duplicates first,
    * then minhash-LSH near-dup over the unique keepers. On dup-heavy
    * corpora this is the difference between feasible and not — raw LSH
    * pays O(cluster²) candidate pairs inside every clone bucket, while
    * keepers-only LSH sees each cluster once (measured 30× on a 95%-dup
    * corpus; see PLANS.md scale smoke). Pairs are over keeper ids. */
  def nearDupPipeline(docs: DataFrame): DataFrame = {
    val keepers = exact(docs).select(col("keep_id").as("doc_id"))
    minhashLsh(docs.join(keepers, "doc_id"))
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * [[MinShared]] distinct word 3-grams with any benchmark document (flag —
    * the removal is a left-anti join on doc_id). The benchmark side is tiny
    * by nature, so its hashed shingle set broadcasts and the corpus
    * streams map-only past it; the only exchange is the per-(doc, bench)
    * overlap count. */
  def contamination(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    sharedShingles(hashedShingles(corpus, ShingleN).distinct(), benchmark)

  /** The kernel of [[contamination]] over a (doc_id, h) frame of each
    * corpus document's distinct shingle hashes: (doc_id, bench_id,
    * n_shared) for every pair sharing at least [[MinShared]] of them.
    * [[CorpusPipeline]] passes the signed scan's shingle sets here
    * instead of re-shingling the corpus. */
  private[operators] def sharedShingles(corpusShingles: DataFrame,
      benchmark: DataFrame): DataFrame = {
    val b = hashedShingles(benchmark, ShingleN).distinct()
      .select(col("h"), col("doc_id").as("bench_id"))
    corpusShingles.join(broadcast(b), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
  }

  /** Boilerplate phrase mining: n-gram phrases appearing in at least
    * `minDocs` distinct documents, with their document frequency (the
    * removal pass is then a join of shingle matches against this set).
    *
    * Two passes so phrase STRINGS never ride a wide shuffle: pass 1
    * counts document frequency over 8-byte shingle hashes (per-doc
    * distinct and the frequency count are both hash-only exchanges);
    * pass 2 re-derives shingles map-side and joins the surviving hash
    * set — broadcast-sized by construction, boilerplate is rare — to
    * attach each frequent hash's phrase text. The corpus is scanned
    * twice, but scan is the cheap resource at 100 TB; shuffled bytes are
    * the expensive one. */
  def boilerplate(docs: DataFrame, n: Int = ShingleN, minDocs: Long = 3): DataFrame = {
    val freq = hashedShingles(docs, n).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    rawShingles(docs, n)
      .select(col("shingle"), xxhash64(col("shingle")).as("h"))
      .join(broadcast(freq), "h")
      .groupBy(col("shingle"))
      .agg(first(col("n_docs")).as("n_docs"))
  }

  /** 60-bit SimHash signature per doc, computed ROW-LOCALLY by the
    * native `simhash_sig` expression ([[graft.functions.SimHashSig]]):
    * map-only, zero exchanges — the explode-tokens → 60-bit-sum groupBy
    * it replaced shuffled every token hash of the corpus. 60 bits (not
    * 64) because the per-token hash is the engine-portable md5-derived
    * [[TextAnalysis.portableHash60]], which keeps the near-dup output
    * DuckDB-verifiable. */
  def simhashSignatures(docs: DataFrame): DataFrame =
    graft.Tables.spreadSmall(docs, "doc_id") // heavy signing map stage
      .select(col("doc_id"), graft.functions.SimHashSig.simhashSig(
        TextAnalysis.tokens(col("text"))).as("simhash"))
      .where(col("simhash").isNotNull)

  /** The aggregate formulation [[simhashSignatures]] replaced (explode →
    * per-bit shift-mask sums → majority vote); kept test-only as the
    * independent reference for the bit-identity spec. */
  private[graft] def aggSimhashSignatures(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .withColumn("hv", TextAnalysis.portableHash60(col("w")))
    val bitSums = (0 until 60).map(j =>
      sum(shiftright(col("hv"), j).bitwiseAND(lit(1L))).as(s"b$j"))
    val sig = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), bitSums: _*)
    val fp = (0 until 60)
      .map(j => when(col(s"b$j") * 2 > col("n_tok"), lit(1L << j)).otherwise(0L))
      .reduce(_ + _) // distinct powers of two: sum == bitwise OR
    sig.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: [[hammingPairs]] over 4×15-bit bands of
    * the 60-bit signature (a pair within hamming distance 3 of 60 bits
    * must agree exactly on ≥1 of the 4 bands — pigeonhole — so banding
    * loses nothing vs all-pairs). */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashSignatures(docs), "simhash", 15, maxHamming)
      .withColumn("hamming", col("hamming").cast("long"))

  /** Banded-Hamming pair miner over (doc_id, `hashCol`: bigint)
    * signatures — the one kernel behind text SimHash
    * ([[simhashNearDup]]) and image dHash ([[Multimodal.imageNearDup]])
    * near-dup: cut the hash into four `bandBits`-wide bands, self-join on
    * (band, value), verify candidates with the exact Hamming distance
    * (`bit_count(x ^ y)`, codegen'd, an INT). By the pigeonhole
    * principle a pair within Hamming distance 3 ALWAYS shares at least
    * one intact band, so at that threshold the banding is exhaustive,
    * not approximate — while the join only ever touches bucket
    * collisions, never all pairs. A persisted signature table probes
    * without re-signing (the build-once/probe-many shape of
    * [[buildMinhashIndex]]). The pigeonhole partitioning of
    * Hamming-distance similarity joins over MapReduce (EDBT 2015). */
  def hammingPairs(sig: DataFrame, hashCol: String, bandBits: Int,
      maxHamming: Int): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"), shiftrightunsigned(col(hashCol), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)).as("bh"))
    }
    val banded = sig
      .select(col("doc_id"), col(hashCol).as("hv"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("hv"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.hv").bitwiseXOR(col("y.hv"))).as("hamming"))
      .distinct() // a pair sharing k bands appears k times
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs above a threshold — the exact
    * quadratic baseline (at scale run Similarity.lshAnn for candidates
    * and verify with this cosine).
    *
    * Declarative: a broadcast self-join on `id_a < id_b` scored by the
    * native single-pass `cosine_sim` expression. The triangular cross
    * product stays fully distributed (each partition streams its slice
    * past the broadcast side inside whole-stage codegen) — no driver
    * collect, no per-pair expression-tree overhead.
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val e0 = embeddings
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    // spread a single-split source so the O(n²) cosine compute runs on
    // every core, not one task (the Similarity.spread rationale)
    val e = graft.Tables.spreadSmall(e0, "vec_id")
    val pairs = e.select(col("vec_id").as("id_a"), col("v").as("va"))
      .join(broadcast(e.select(col("vec_id").as("id_b"), col("v").as("vb"))),
        col("id_a") < col("id_b"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .where(col("cos") >= threshold)
    pairs.select(col("id_a"), col("id_b"), graft.functions.Exact.round6(col("cos")).as("cos"))
  }

  /** THE embedding-dedup entry point — routes by corpus size, mirroring
    * the exact→LSH ladder, so the O(n²) full-table-broadcast baseline
    * ([[embeddingNearDup]]) cannot be reached by default at scale: above
    * `exactMaxRows` the cell-bounded SemDeDup path runs instead, with a
    * cell count sized to keep the expected within-cell pair scoring
    * bounded (~avg 2k vectors/cell). The size probe is a bounded
    * `limit(max+1).count()` — it never scans past the threshold, so the
    * routing decision itself is O(exactMaxRows) on any input.
    *
    * Exact path: every pair ≥ threshold. Semantic path: subset of the
    * exact pair set (pairs straddling a cell boundary are the recall
    * price that makes 100 TB feasible). */
  def embeddingDedup(embeddings: DataFrame, threshold: Double = 0.4,
      exactMaxRows: Long = 10000): DataFrame = {
    if (atMost(embeddings, "vec_id", exactMaxRows))
      embeddingNearDup(embeddings, threshold)
    else {
      // full count only on the scale path (parquet counts are footer
      // metadata; next to the dedup itself this is noise) to size cells
      val n = embeddings.count()
      Similarity.semanticDedup(embeddings, threshold,
        nCells = math.max(16L, n / 2000L).toInt)
    }
  }

  /** Span width of [[spanDedup]] and its removal twin [[scrubSpans]]. */
  private val SpanTokens = 8

  /** The span prelude [[spanDedup]] and [[scrubSpans]] share: each
    * document's fixed 8-token windows (stride = span, no overlap) as
    * (h, doc_id, span_id, ord, txt, first_ord) rows. `h` is the span's
    * 60-bit portable hash, `ord` packs (doc_id, span_id) into one BIGINT
    * so "first occurrence" is a plain min() on any engine, and
    * `first_ord` is the global first occurrence of `h` — a span is a
    * duplicate iff `ord` ≠ `first_ord`. The wide exchanges key on the
    * hash (the first-seen aggregate and the re-join on it are
    * co-partitioned); span text rides them only for a consumer that
    * reads `txt`. */
  private def spansFirstSeen(docs: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .where(col("n") > 0)
      .withColumn("span_id", explode(sequence(lit(0L),
        expr(s"CAST((n + $SpanTokens - 1) div $SpanTokens AS BIGINT)") - 1)))
      .select(col("doc_id"), col("span_id"),
        // 1e9 span slots per doc (8e9 tokens at the default span width)
        // — wide enough that no real document can collide into the next
        // doc_id's ord range; doc_ids stay safe below ~9.2e9
        (col("doc_id") * 1000000000L + col("span_id")).as("ord"),
        concat_ws(" ", slice(col("tk"),
          (col("span_id") * SpanTokens + 1).cast("int"), lit(SpanTokens))).as("txt"))
      .withColumn("h", TextAnalysis.portableHash60(col("txt")))
    val firstSeen = spans.groupBy(col("h")).agg(min(col("ord")).as("first_ord"))
    spans.join(firstSeen, "h")
  }

  /** Span-level (sub-document) exact dedup — the C4-style pass that
    * document-level dedup misses: over [[spansFirstSeen]], every span
    * after the global first occurrence of its hash (the
    * lexicographically smallest (doc_id, span_id)) counts as a
    * duplicate. Output is the per-document audit a cleaning pipeline
    * filters on: span count, duplicated-span count, duplicated
    * fraction.
    *
    * Scale shape: span TEXT never shuffles — spans collapse to a
    * 60-bit portable hash in the scan projection, the one wide
    * exchange carries (hash, doc_id, span_id) triples. Both sides of
    * the verdict stay O(total spans), never O(text). */
  def spanDedup(docs: DataFrame): DataFrame =
    spansFirstSeen(docs)
      .withColumn("is_dup", (col("ord") =!= col("first_ord")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("is_dup")).as("n_dup_spans"))
      .withColumn("dup_frac", graft.functions.Exact.round6(
        col("n_dup_spans").cast("double") / col("n_spans")))

  /** The REMOVAL twin of [[spanDedup]] — C4/CCNet-style scrubbing:
    * every span whose hash was seen earlier in the global (doc_id,
    * span_id) order is dropped, and each document's surviving spans are
    * reassembled in span order into the cleaned text. Unlike the audit
    * (which only counts), this materializes the post-scrub corpus — the
    * thing the next pipeline stage actually trains on.
    *
    * Scale shape: one extra element vs the audit — the span TEXT rides
    * the hash exchange (it must come back to rebuild the doc), so the
    * wide shuffles carry O(text) once, same as any corpus rewrite. The
    * rebuild is a per-doc sort of that doc's own surviving spans
    * (array_sort of a collect_list — bounded by the doc, not the
    * corpus; no window). Docs whose every span was seen earlier
    * elsewhere come out empty (n_spans_kept = 0, text_clean = '') but
    * are KEPT, so attrition stays auditable downstream. */
  def scrubSpans(docs: DataFrame): DataFrame =
    // collect_list skips nulls, so conditioning INSIDE the aggregate
    // (not a row filter) is what keeps fully-scrubbed docs in the
    // output with an empty kept-array instead of dropping their group
    spansFirstSeen(docs)
      .groupBy(col("doc_id"))
      .agg(collect_list(when(col("ord") === col("first_ord"),
        struct(col("span_id"), col("txt")))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_spans_kept"),
        concat_ws(" ", transform(array_sort(col("kept")), x => x.getField("txt")))
          .as("text_clean"))

  /** Near-dup threshold SWEEP: the data-card a pipeline owner reads to
    * pick the dedup threshold — pair and affected-doc counts at several
    * Jaccard cutoffs from ONE pair-mining pass at the loosest cutoff
    * (the mine is the expensive part; the sweep is conditional sums
    * over its output). Per-threshold doc counts are countDistinct over
    * the exploded pair endpoints; all comparisons run on the ROUNDED
    * jaccard (what [[ngramJaccard]] emits), which the oracle mirrors.
    * Output is one bounded summary row. */
  def dedupSweep(docs: DataFrame): DataFrame = {
    val thresholds = Seq(0.25, 0.5, 0.75)
    val pairs = ngramJaccard(docs, threshold = thresholds.min).localCheckpoint()
    def pct(t: Double): String = math.round(t * 100).toString
    val pairCols = thresholds.map(t =>
      sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"n_pairs_${pct(t)}"))
    val pairAgg = pairs.agg(pairCols.head, pairCols.tail: _*)
    val ids = pairs.select(col("jaccard"),
      explode(array(col("id_a"), col("id_b"))).as("id"))
    val docCols = thresholds.map(t =>
      countDistinct(when(col("jaccard") >= t, col("id"))).as(s"n_docs_${pct(t)}"))
    val docAgg = ids.agg(docCols.head, docCols.tail: _*)
    pairAgg.crossJoin(broadcast(docAgg))
  }

  /** Cross-document shingle-redundancy card per source — the corpus-
    * level "how much of this source is repeated text" metric (the
    * within-doc twin is `t_repetition`). Two rates over word n-gram
    * occurrences: `dup_rate` counts every repeat (within AND across
    * docs) as (occ − distinct)/occ; `cross_dup_rate` first collapses
    * each doc's own repeats to (doc, shingle) grain, so what remains is
    * purely cross-document redundancy — the signal a dedup pass will
    * actually remove. Integer counts, single exact-input divisions,
    * NULL on a shingle-less source (docs shorter than n words).
    * STRING shingles, not the 64-bit hashed kind the pair miners use:
    * a count card has no verification step to absorb a hash collision,
    * so it measures the exact objects the oracle measures. Three
    * aggregates over the shingle stream, all keyed by source — linear,
    * shuffle bounded by distinct shingles per source. */
  def redundancy(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val occ = rawShingles(docs, n).join(src, "doc_id")
      .localCheckpoint() // three grains scan it
    val raw = occ.groupBy(col("source")).agg(count(lit(1)).as("n_occ"))
    val docGrain = occ.select(col("source"), col("doc_id"), col("shingle"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_doc_sh"))
    val dist = occ.select(col("source"), col("shingle")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    val nDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    nDocs
      .join(raw, Seq("source"), "left")
      .join(docGrain, Seq("source"), "left")
      .join(dist, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("n_doc_sh"), lit(0L)).as("n_doc_sh"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_occ"), lit(0L)) === 0, lit(null))
          .otherwise((col("n_occ") - col("n_distinct")).cast("double")
            / col("n_occ").cast("double")).as("dup_rate"),
        when(coalesce(col("n_doc_sh"), lit(0L)) === 0, lit(null))
          .otherwise((col("n_doc_sh") - col("n_distinct")).cast("double")
            / col("n_doc_sh").cast("double")).as("cross_dup_rate"))
  }

  /** Precision/recall card of a candidate pair MINER against a ground-
    * truth pair set — the QA gate run before trusting an approximate
    * dedup (MinHash-LSH, SimHash, embedding buckets) as the real
    * thing. Pairs are canonicalized (least, greatest) and
    * deduplicated on both sides, the comparison is one co-partitioned
    * full outer join, and the card is a single bounded row: set sizes,
    * tp/fp/fn, and precision/recall as single exact-integer divisions
    * (NULL when the denominator set is empty — no fabricated 1.0 on
    * vacuous input).
    *
    * Wired as the `d_dedup_eval` driver entry over (minhashLsh ←
    * truth ngramJaccard), this turns the "LSH recall is 1.0 on this
    * corpus at (3,64,16,0.5)" assumption — which `p_leak_split`'s
    * oracle mirror and `d_dedup_minhash`'s shared oracle both lean
    * on — into a MEASURED, gate-checked number: any params/corpus
    * change that drops recall moves `fn` off 0 and fails the oracle
    * compare loudly instead of silently skewing the mirrors. */
  def dedupEval(candidates: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame, flag: String) = df
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
      .withColumn(flag, lit(1L))
    canon(candidates, "in_c")
      .join(canon(truth, "in_t"), Seq("id_a", "id_b"), "full")
      .agg(
        // coalesce the OUTER sums too: both inputs empty must read as
        // an all-zero card, not a row of NULL counts
        coalesce(sum(coalesce(col("in_t"), lit(0L))), lit(0L)).as("n_truth"),
        coalesce(sum(coalesce(col("in_c"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("in_c").isNotNull && col("in_t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("in_c").isNotNull && col("in_t").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("in_c").isNull && col("in_t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("fn"))
      .select(col("n_truth"), col("n_cand"), col("tp"), col("fp"), col("fn"),
        when(col("n_cand") === 0, lit(null))
          .otherwise(col("tp").cast("double") / col("n_cand").cast("double"))
          .as("precision"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(col("tp").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }
}
