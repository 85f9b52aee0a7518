package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity.{cosineSim, dotProduct}
import graft.functions.VectorFunctions.toDouble

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * bruteForce is the exact baseline (and the oracle for recall checks);
  * lshAnn is the scale path: random-hyperplane signatures bucket the
  * corpus so each query only scores its own bucket — at 100 TB the
  * bucket join replaces the full cross product, and the hyperplanes are
  * a tiny broadcast literal.
  *
  * All scoring goes through the native `cosine_sim` / `dot_product`
  * Catalyst expressions: a tight generated loop per pair keeps the plan
  * and its generated code small (a dim-unrolled expression tree at
  * dim=64 made every scoring stage megabytes of Java — slow to compile,
  * hostile to JIT), while the arithmetic stays the same left-to-right
  * double accumulation the DuckDB oracle uses.
  */
object Similarity {

  /** The pair-scan ops spread their corpus side via
    * [[graft.Tables.spreadSmall]]: their compute is corpus×queries
    * FLOPS, which a single-split local input would pin to ONE task
    * (measured: `s_silhouette` 4.4 s single-task vs ~1.1 s spread at
    * 2000 vectors × 32 cores). Cheap map-only stages (IVF assignment,
    * k-means) deliberately do NOT spread — the exchange measured as a
    * net loss there. */
  private def spread(df: DataFrame): DataFrame =
    graft.Tables.spreadSmall(df, "vec_id")

  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        row_number().over(w).as("rnk"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), graft.functions.Exact.round6(col("cos")).as("cos"), col("rnk"))
  }

  /** Exact top-k cosine neighbors for each query vector (queries chosen
    * by id predicate). The per-query top-k is a rank-filtered window — at
    * scale the corpus side streams once past the broadcast query set. */
  def bruteForceTopK(embeddings: DataFrame, maxQueryId: Long, k: Int): DataFrame = {
    val e = spread(prepared(embeddings))
    val q = e.where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored, k)
  }

  /** Exact RADIUS (range) search: every neighbor with cosine ≥ `minCos`
    * of each query — the "everything this similar" form top-k can't
    * express (k is unknowable when cluster sizes vary). Same
    * one-streaming-pass shape as [[bruteForceTopK]]: corpus streams
    * once past the broadcast query set, the threshold filter runs
    * inside the scan. Result size is data-dependent by definition —
    * callers picking τ near 0 on a dense corpus asked for the blow-up. */
  def radiusSearch(embeddings: DataFrame, maxQueryId: Long,
      minCos: Double): DataFrame = {
    val e = spread(prepared(embeddings))
    val q = e.where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
      .where(col("cos") >= minCos)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.Exact.round6(col("cos")).as("cos"))
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed) as a
    * literal — broadcast-sized metadata, never shuffled. */
  private def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  /** The hyperplane constants as SQL list literals (shortest-round-trip
    * double strings parse back to the identical IEEE value in any
    * engine), so the LSH bucketing itself is oracle-expressible. */
  def planesLiteralSql(nPlanes: Int, dim: Int): Seq[String] =
    planes(nPlanes, dim).toSeq.map(_.mkString("[", ", ", "]"))

  /** Sign-of-projection LSH bucket id for a double vector column: one
    * native dot_product per plane against an array literal. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column = {
    val ps = planes(nPlanes, dim)
    (0 until nPlanes).map { p =>
      when(dotProduct(v, lit(ps(p))) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Deterministic hash-ordered centroid seed sample (TakeOrdered — one
    * reduction pass, no full count/shuffle). Cells are named by their
    * seed vector's id. The order hash is the engine-portable md5 hash
    * (not xxhash64) so the ENTIRE centroid construction — and therefore
    * IVF assignment and SemDeDup clustering — can be value-verified by
    * an external SQL engine. */
  private def sampleCentroids(e: DataFrame, nCells: Int): DataFrame =
    e.orderBy(TextAnalysis.portableHash60(col("vec_id")), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))

  /** Nearest-cell assignment for rows of shape (`idCol`, v): a MAP-ONLY
    * projection — the centroid set (bounded metadata by design, same
    * class as the LSH hyperplanes) is collected once and baked into the
    * native `nearest_cells` expression, so assignment is one codegen'd
    * scan with zero shuffle and zero join. Ties break to the smallest
    * cell_id. The collect reads ≤nCells rows from an already
    * materialized table (see [[coarseCentroids]]), not a corpus scan. */
  private def assignCells(df: DataFrame, centroids: DataFrame, idCol: String,
      take: Int): DataFrame = {
    import graft.functions.NearestCells.nearestCells
    val rows = centroids.select(col("cell_id"), col("cv")).collect()
    require(rows.nonEmpty, "empty centroid set")
    val ids = rows.map(_.getLong(0))
    val cvs = rows.map(_.getSeq[Double](1).toArray)
    val cells = nearestCells(col("v"), ids, cvs, take)
    if (take == 1)
      df.select(col(idCol), col("v"), element_at(cells, 1).as("cell_id"))
    else
      df.select(col(idCol), col("v"), explode(cells).as("cell_id"))
  }

  /** Coarse centroids: hash-ordered seed sample plus `refinePasses`
    * k-means (Lloyd) passes. Each pass is assign-nearest + per-cell
    * mean; the mean is computed by dimension (posexplode + two-level
    * aggregate), so shuffle volume is nCells×dim per upstream partition,
    * never the corpus. Coordinate sums use fixed-point longs (2^30
    * scale) — order-independent addition keeps refined centroids
    * bit-identical across runs, which double summation would not.
    * A seed cell that captures no vectors disappears (its would-be
    * members re-home to surviving cells on the next assignment). */
  def coarseCentroids(e: DataFrame, nCells: Int, refinePasses: Int = 1): DataFrame = {
    val Scale = (1L << 30).toDouble
    var cents = sampleCentroids(e, nCells)
    for (_ <- 1 to refinePasses) {
      cents = assignCells(e, cents, "vec_id", 1)
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(round(col("x") * Scale).cast("long")).as("sx"), count(lit(1)).as("n"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"),
          (col("sx").cast("double") / col("n") / Scale).as("x")))).as("ps"))
        .select(col("cell_id"), col("ps.x").as("cv"))
    }
    // materialize eagerly: the result is ≤nCells rows, but its LINEAGE
    // holds a full-corpus assignment per refinement pass — and a consumer
    // references centroids from several broadcast exchanges (corpus
    // assign, query assign), each of which would re-execute that corpus
    // scan. Measured on 100k vectors: monolithic ivfAnn 175s lazy vs
    // ~35s materialized. Cost: one job at construction time.
    cents.localCheckpoint(true)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of ≤nCells centroids
    * partitions the corpus; queries probe only the nProbe nearest cells.
    * All stages are linear: assignment is a broadcast join against the
    * centroid set, search touches ~(nProbe/nCells) of the corpus per
    * query. The probe side's cell key is RENAMED (`probe_cell`) — the
    * corpus and queries share centroid lineage, and a same-name join
    * would build a trivially-true single-exprId predicate. */
  def ivfAnn(embeddings: DataFrame, maxQueryId: Long, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refinePasses: Int = 1): DataFrame = {
    val e = prepared(embeddings)
    val centroids = coarseCentroids(e, nCells, refinePasses)
    val corpus = assignCells(e, centroids, "vec_id", 1)
    val queries = assignCells(e.where(col("vec_id") < maxQueryId), centroids, "vec_id", nProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell_id").as("probe_cell"))
    val scored = corpus
      .join(broadcast(queries),
        col("cell_id") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored, k)
  }

  /** A persisted IVF index is BOTH tables: the per-vector cell
    * assignments and the centroid set itself. Carrying centroids
    * explicitly (instead of recovering them from self-assigned rows)
    * guarantees every assignment's cell is reachable at search time even
    * when two seed vectors were identical/parallel, and it is what makes
    * k-means-refined centroids (which are no corpus row) persistable. */
  final case class IvfIndex(assignments: DataFrame, centroids: DataFrame)

  /** One-time IVF index build — persist both tables (ideally the
    * assignments via `Catalog.writeBucketed(..., "cell_id", …)` so probe
    * joins are exchange-free) and answer every future query batch with
    * [[ivfSearch]]. Rebuilding the assignment per query batch (what a
    * monolithic IVF call does) costs more than brute force until the
    * query count is large; the index is what makes IVF pay at scale. */
  def buildIvfIndex(embeddings: DataFrame, nCells: Int = 16): IvfIndex = {
    val e = prepared(embeddings)
    val centroids = coarseCentroids(e, nCells)
    IvfIndex(assignCells(e, centroids, "vec_id", 1), centroids)
  }

  /** INDEX UPSERT: assign NEW vectors against a FROZEN centroid table.
    * Standard IVF practice (FAISS `add()`) keeps centroids fixed
    * between rebuilds, which is exactly what makes the upsert EXACT:
    * cell assignment is a pure per-vector function of the centroids,
    * so (old assignments) ∪ (delta assigned against the same
    * centroids) IS the table a full rebuild over those centroids
    * would produce — search over the upserted index equals search
    * over the rebuild, batch boundaries invisible. Map-only (the
    * centroid set rides in the `nearest_cells` literal), zero
    * shuffles, cost O(|delta|·nCells) — the index stays fresh at
    * 100 TB without ever re-touching the corpus. Re-cluster (a real
    * rebuild) only when drift erodes the recall gate's floor —
    * measured by `s_ann_recall`/`s_ndcg`, not assumed. */
  def assignNew(newVectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(prepared(newVectors), centroids, "vec_id", 1)

  /** Probe-only IVF search against a prebuilt index: queries are scored
    * against the (tiny, broadcast) centroid set to pick nProbe cells,
    * then join only those cells' vectors. The corpus is never re-scored.
    * `queries` needs (query_id, qv: array<double>). */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    val probed = assignCells(
        queries.select(col("query_id"), col("qv").as("v")), index.centroids,
        "query_id", nProbe)
      .select(col("query_id"), col("v").as("qv"), col("cell_id").as("probe_cell"))
    val scored = index.assignments
      .join(broadcast(probed),
        col("cell_id") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored, k)
  }

  /** IVF index with INT8-QUANTIZED RESIDUALS — the memory-scale form of
    * [[IvfIndex]] (the float index stores 8·dim bytes per vector; at
    * 100 TB the index itself outgrows the cluster). Per vector the
    * assignments table stores the cell id, a dim-byte code, one scale
    * and one precomputed reconstructed norm: ~(dim + 16) bytes, an ~8×
    * reduction at dim=64. Same public technique as FAISS's
    * IVF-scalar-quantizer: quantize the RESIDUAL v − centroid (residuals
    * are small, so the int8 grid is dense where the data is), scale
    * per cell (s = max|residual coordinate| / 127, so no code ever
    * clips beyond rounding and per-coordinate error ≤ s/2). */
  final case class IvfQIndex(assignments: DataFrame, centroids: DataFrame,
      scales: DataFrame)

  /** Assignment + residual against a (frozen or freshly trained)
    * centroid table — the shared first step of both quantized builds
    * and their upsert paths. */
  private def residualsQ(e: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(e, centroids, "vec_id", 1)
      .join(broadcast(centroids), "cell_id")
      .withColumn("r", zip_with(col("v"), col("cv"), (x, c) => x - c))

  /** Per-cell int8 residual scale: s = max|residual coordinate| / 127
    * over the TRAINING rows, so no training code ever clips beyond
    * rounding. Once frozen in a saved index, the scales are part of
    * the quantizer exactly like the centroids. */
  private def residScalesQ(resid: DataFrame): DataFrame =
    resid.groupBy(col("cell_id"))
      .agg(max(array_max(transform(col("r"), x => abs(x)))).as("mx"))
      .select(col("cell_id"),
        when(col("mx") > 0, col("mx") / 127.0).otherwise(lit(1.0)).as("s"))

  /** Encode residual rows against a per-cell scale table: clamped int8
    * codes + the reconstruction norm. The clamp is a NO-OP for the
    * training rows (the scale is their own max/127) and the stated
    * clipping behavior for upserted vectors whose residual exceeds the
    * frozen cell scale — the standard scalar-quantizer trade: error
    * grows with the overshoot instead of wrapping. A delta vector
    * landing in a cell with no training row (possible after the final
    * Lloyd move) gets scale 1.0 — codes round the raw residual. */
  private def encodeQ(resid: DataFrame, scales: DataFrame): DataFrame =
    resid.join(broadcast(scales), Seq("cell_id"), "left")
      .withColumn("s", coalesce(col("s"), lit(1.0)))
      .withColumn("q", transform(col("r"),
        x => greatest(lit(-127.0), least(lit(127.0), round(x / col("s"))))
          .cast("byte")))
      .withColumn("vr", zip_with(col("cv"), col("q"),
        (c, qq) => c + qq.cast("double") * col("s")))
      .withColumn("rnorm", sqrt(dotProduct(col("vr"), col("vr"))))
      .select(col("vec_id"), col("cell_id"), col("q"), col("s"),
        col("rnorm"))

  /** Build the quantized index: assign → per-cell residual scale →
    * int8 codes + reconstructed norm. The array lambdas here are
    * BUILD-TIME only (one pass at index construction, the price FAISS
    * pays too); the SEARCH path below stays on native codegen'd
    * expressions. */
  def buildIvfIndexQ(embeddings: DataFrame, nCells: Int = 16): IvfQIndex = {
    val e = prepared(embeddings)
    val centroids = coarseCentroids(e, nCells)
    val resid = residualsQ(e, centroids)
    val scales = residScalesQ(resid)
    IvfQIndex(encodeQ(resid, scales), centroids, scales)
  }

  /** QUANTIZED INDEX UPSERT: encode NEW vectors against the FROZEN
    * quantizer — centroids AND per-cell scales, both fixed at build
    * time. The int8 code is a pure per-vector function of (centroids,
    * scales), so exactly as with [[assignNew]], (old assignments) ∪
    * (delta encoded against the same frozen artifacts) IS the table a
    * monolithic encode-everything pass would produce — search over
    * the upserted index equals search over that rebuild (spec + the
    * s_ann_upsert_q oracle pin it). Map-only over the delta: the
    * centroid set rides in the assignment literal and the ≤nCells
    * scale table is broadcast, cost O(|delta|·nCells). This closes
    * the scale story [[buildIvfIndexQ]] opens: the index that still
    * FITS at 100 TB (dim+16 bytes/vector) also stays FRESH at 100 TB
    * without re-touching the corpus. A delta residual beyond the
    * frozen cell scale CLIPS at ±127 (see [[encodeQ]]); re-train when
    * the recall/nDCG gates say drift has eaten the floor. */
  def assignNewQ(newVectors: DataFrame, centroids: DataFrame,
      scales: DataFrame): DataFrame =
    encodeQ(residualsQ(prepared(newVectors), centroids), scales)

  /** (query_id, qv) query rows from an embeddings table — the search
    * verbs' input shape, for callers whose index stores codes rather
    * than vectors (the quantized indexes keep no `v` to query from). */
  def queryVectors(embeddings: DataFrame, maxQueryId: Long): DataFrame =
    prepared(embeddings).where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** Probe-only search against the quantized index with ASYMMETRIC
    * distance (the query is never quantized):
    *   cos(q, ĉ) = (q·c + s·(q·r̂)) / (|q| · |ĉ|)
    * where ĉ = c + s·r̂ is the reconstruction. q·c and |q| are computed
    * once per (query, probed cell) on the tiny probe side; the per-pair
    * work is ONE native dot_product over the byte code cast to double —
    * a codegen'd element-wise cast, no array allocation, no lambda in
    * the hot path — times |ĉ| precomputed at build. Equal probe budget,
    * ~8× less state than [[ivfSearch]]. */
  def ivfSearchQ(index: IvfQIndex, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    val probed = assignCells(
        queries.select(col("query_id"), col("qv").as("v")), index.centroids,
        "query_id", nProbe)
      .select(col("query_id"), col("v").as("qv"), col("cell_id").as("probe_cell"))
      .join(broadcast(index.centroids
        .select(col("cell_id").as("probe_cell"), col("cv"))), "probe_cell")
      .select(col("probe_cell"), col("query_id"), col("qv"),
        dotProduct(col("qv"), col("cv")).as("qdotc"),
        sqrt(dotProduct(col("qv"), col("qv"))).as("qnorm"))
    val scored = index.assignments
      .join(broadcast(probed),
        col("cell_id") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        when(col("rnorm") > 0,
          (col("qdotc") + col("s") *
            dotProduct(col("qv"), col("q").cast("array<double>"))) /
            (col("qnorm") * col("rnorm")))
          .otherwise(lit(-2.0)))
    topKPerQuery(scored, k)
  }

  /** APPROXIMATE-THEN-EXACT serving — the published FAISS refine
    * pattern, and the missing rung between the compressed index and
    * full-precision answers: the quantized index picks top-(k·`alpha`)
    * CANDIDATES per query with the asymmetric int8 distance
    * ([[ivfSearchQ]] — 8× less state than the float index), and only
    * those candidates are re-scored against the full-precision
    * vectors, exact cosine, re-ranked to the final k. Quantization
    * error can reorder near-ties but rarely ejects a true neighbor
    * from a 3× candidate pool, so the served scores are EXACT doubles
    * and the served ranking is exact over the pool.
    *
    * Scale shape: the candidate pick costs one probed scan of the
    * int8 codes (the index that FITS at 100 TB); the refine touches
    * k·alpha·|Q| full vectors — a key-bounded fetch (bucket- or
    * bloom-routed at scale), never a corpus stream. Locally the
    * corpus scans once past the broadcast candidate set, the same
    * plan [[bruteForceTopK]] uses with |Q|·k·alpha rows on the build
    * side instead of the whole query cross-product. */
  def ivfSearchQReranked(index: IvfQIndex, embeddings: DataFrame,
      queries: DataFrame, k: Int, alpha: Int = 3, nProbe: Int = 4): DataFrame = {
    require(alpha >= 1, s"alpha must be >= 1: $alpha")
    val cand = ivfSearchQ(index, queries, k * alpha, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val scored = prepared(embeddings)
      .join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cos")), k)
  }

  /** Mutual k-NN filter over any (query_id, neighbor_id, cos, rnk)
    * top-k table: keep the canonical pair (a < b) iff each endpoint is
    * in the OTHER's top-k — the reciprocal-neighbor criterion that
    * turns an ANN listing into an undirected similarity graph whose
    * edges are robust to the hubness of one-directional kNN (a hub
    * appears in everyone's list; mutuality prunes it back to its true
    * neighborhood). One self-join on the (already k-bounded) top-k
    * table — |input| ≤ n·k rows, never the corpus. */
  def mutualKnn(topk: DataFrame): DataFrame =
    topk.as("x")
      .join(topk.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id"))
      .where(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
        col("x.cos").as("cos"))

  /** Mutual k-NN GRAPH of the whole embedding corpus — the structure
    * graph-based dedup/cluster passes (and the BFS/PageRank family)
    * consume. This entry scores EXACTLY (every vector against every
    * other — the value-verifiable form; fine to ~10⁴ vectors); at
    * corpus scale build the same top-k table with [[ivfSearch]]
    * over an index instead and feed it to
    * [[mutualKnn]] — the mutual filter is identical either way. */
  def knnGraph(embeddings: DataFrame, k: Int = 3): DataFrame = {
    val e = spread(prepared(embeddings))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    mutualKnn(topKPerQuery(scored, k))
  }

  /** SemDeDup-style semantic dedup: cluster by coarse centroid, then
    * find cosine-near-dup pairs ONLY within each cell. Bounds the
    * quadratic pair scoring to cell populations (expected n/C per cell),
    * which is what makes embedding dedup tractable at corpus scale; the
    * price is missed pairs that straddle a cell boundary (raise nCells'
    * inverse or probe neighbors to trade recall vs cost). Every emitted
    * pair carries its exact cosine, so results are a subset of
    * Dedup.embeddingNearDup at the same threshold. */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.4,
      nCells: Int = 16): DataFrame = {
    val e = prepared(embeddings)
    val assigned = assignCells(e, coarseCentroids(e, nCells), "vec_id", 1)
    // intra-cell pair scoring: the self-join key is the cell, so the
    // cross product never leaves a cell
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineSim(col("a.v"), col("b.v")))
      .where(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.Exact.round6(col("cos")).as("cos"))
  }

  /** LSH-bucketed ANN: queries score only vectors in their own bucket.
    * Approximate by construction (recall < 1 across bucket boundaries);
    * four 64-dimensional hyperplanes: more planes trade recall for
    * smaller buckets. */
  def lshAnn(embeddings: DataFrame, maxQueryId: Long, k: Int): DataFrame = {
    val e = prepared(embeddings).withColumn("bucket", lshBucket(col("v"), 4, 64))
    val q = e.where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val scored = e
      .join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored, k)
  }

  /** K-means clustering as a first-class operator (round 5): the
    * [[coarseCentroids]] fit (hash-ordered seeds, Lloyd passes with
    * fixed-point coordinate sums) exposed with its membership counts,
    * posexploded to scalar (cell_id, n_members, pos, x) rows so every
    * centroid COORDINATE is oracle-comparable (array columns don't
    * hash portably across the compare harness). Multi-pass Lloyd is
    * replayed round by round in the DuckDB mirror ([[kmeansOracleSql]]),
    * making this the third iteratively-fitted, value-verified model
    * after BPE (8 greedy rounds) and the 1-pass IVF quantizer. */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int = 8): DataFrame = {
    val e = prepared(embeddings)
    val cents = coarseCentroids(e, nCells, KmeansPasses)
    val members = assignCells(e, cents, "vec_id", 1)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n_members"))
    cents.join(members, Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("n_members"), lit(0L)).as("n_members"),
        posexplode(col("cv")).as(Seq("pos", "x")))
      .select(col("cell_id"), col("n_members"), col("pos").cast("long").as("pos"),
        graft.functions.Exact.round6(col("x")).as("x"))
  }

  /** Top PRINCIPAL DIRECTION of the embedding corpus — "which single
    * axis explains the most (uncentered) variance, and how strong is
    * it": [[pcaComponents]] at k = 1 without its `component` column. */
  def pcaTopComponent(embeddings: DataFrame): DataFrame =
    pcaComponents(embeddings, k = 1).drop("component")

  /** TOP-K principal subspace by power iteration WITH DEFLATION — the
    * structure read the clustering family lacks: embedding collapse
    * showing up as one dominant λ is the classic training-corpus
    * pathology check, and the k directions are the visualization
    * basis. The vector length d is read from the corpus.
    *
    * Engine-exact by the k-means recipe: the per-coordinate
    * accumulation `w_j = Σ_i x_ij·(x_i·v)` uses fixed-point 2³⁰
    * scaled-long sums (order-free), the dot products and the norm are
    * SEQUENTIAL left-to-right folds (DuckDB's list_dot_product and
    * the native dot_product walk the array identically — the proven
    * kmeans bridge), v₀ = 1/√d everywhere, and each iteration's
    * normalized v returns through the driver as d literals. After
    * each converged direction v the corpus is deflated (x ← x −
    * (x·v)·v, a zip_with projection — no shuffle), and `x_j − dot·v_j`
    * is the identical IEEE expression shape on both engines — so
    * [[pcaOracleSql]] (k = 1) and [[pcaKOracleSql]] replay every pass
    * and every deflation CTE-for-CTE, and all k·d loadings hash-match.
    *
    * The deflated corpus is MATERIALIZED via `localCheckpoint` before
    * the next solve. The checkpoint is load-bearing, not a cache hint:
    * left as a lazy plan, Catalyst's projection collapse inlines each
    * prior deflation layer into the dot product AND all d zip_with
    * lanes of the next, so plan size (and evaluation cost) grows
    * multiplicatively per component — measured 2748 s for k=4 at
    * sf0.1 vs ~1 s for the single component; checkpointed, it is
    * ~4 s. The stored rows are the same IEEE doubles the lazy plan
    * would compute, so oracle exactness is untouched.
    *
    * Scale shape: one corpus scan per iteration, map-side-combined to
    * d fixed-point rows, d longs to the driver — the PageRank cost
    * profile with d instead of nodes — so the card is O(k·iters)
    * scans plus k−1 deflation passes. Fixed-point sums are exact to
    * ~2⁵³⁻³⁷ ≈ 6·10⁴ rows per unit value-scale here; widen to
    * decimal(38) past ~10⁸ rows (the mwu precedent). Sign is the
    * iteration's own (deterministic on both engines).
    *
    * An empty corpus gives an empty card, and so does an all-zero one
    * (w = 0 → λ = 0; its v would be 0/0 NaN loadings). A corpus of
    * rank r < k stops after r components: the deflated residuals of
    * an exactly-degenerate corpus sit at ~1e-16, far below the 2⁻³⁰
    * fixed-point grid, so the accumulated w is all zeros, λ = 0
    * exactly, and the card ends — deterministically on both engines
    * (the rank-2 fixture spec pins this). */
  def pcaComponents(embeddings: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    require(k >= 1, s"pcaComponents: k must be >= 1: $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prepared(embeddings)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Long)]
    def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    pcaDim(e).foreach { dim =>
      val n = e.count()
      pcaSolve(e, k, iters, dim).zipWithIndex.foreach {
        case ((v, lambda), i) =>
          v.zipWithIndex.foreach { case (x, p) =>
            out += ((i.toLong + 1, p.toLong, r6(x), r6(lambda), n))
          }
      }
    }
    out.toSeq.toDF("component", "pos", "loading", "lambda", "n_vectors")
  }

  /** The shared deflation loop behind [[pcaComponents]] and
    * [[pcaProject]]: up to k (direction, λ) pairs, UNROUNDED — the
    * card rounds for display, the projection must dot against the
    * exact doubles the oracle's CTEs carry. Stops at the first dead
    * direction (λ = 0: deflation exhausted the corpus rank). */
  private def pcaSolve(e0: DataFrame, k: Int, iters: Int,
      dim: Int): Seq[(Array[Double], Double)] = {
    var e = e0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Double], Double)]
    var c = 1
    var dead = false
    while (c <= k && !dead) {
      val (v, lambda) = powerIterate(e, iters, dim)
      if (lambda == 0.0) dead = true
      else {
        out += ((v, lambda))
        if (c < k) {
          val vLit = array(v.toSeq.map(lit): _*)
          // materialize the deflated corpus: without this the next
          // component's plan inlines every prior deflation layer
          // into each of the `dim` zip_with lanes (see Scaladoc)
          e = e.withColumn("__dot", dotProduct(col("v"), vLit))
            .select(col("vec_id"),
              zip_with(col("v"), vLit,
                (x, vj) => x - col("__dot") * vj).as("v"))
            .localCheckpoint()
        }
      }
      c += 1
    }
    out.toSeq
  }

  /** PER-VECTOR COORDINATES on the top-k principal subspace — the
    * read the loadings card sets up: where each document SITS along
    * the dominant axes (the 2-D/3-D corpus scatter, cluster-collapse
    * inspection, PCA-whitened features for a downstream probe).
    * One map-only scan after the solve: pc_c = x·v_c with the
    * directions riding as literals (the nearest_cells convention) —
    * no shuffle, no join, cost O(k·d) per row.
    *
    * Engine-exact: the directions are the solve's unrounded doubles —
    * bit-identical to the oracle's v CTEs ([[pcaKOracleSql]]'s proven
    * bridge) — and the dot is the same sequential fold, so every
    * coordinate hash-matches after the shared 6-decimal floor. A
    * corpus of rank r < k pads components r+1..k with EXACT 0.0
    * columns on BOTH engines (a dead direction is the zero vector;
    * dot against it is +0.0, and floor(0.5)/10⁶ = 0.0), keeping the
    * schema stable across ranks. */
  def pcaProject(embeddings: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    require(k >= 1, s"pcaProject: k must be >= 1: $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prepared(embeddings)
    val dim = pcaDim(e)
    if (dim.isEmpty) {
      val empty = Seq.empty[Long].toDF("vec_id")
      return (1 to k).foldLeft(empty)((d, c) =>
        d.withColumn(s"pc$c", lit(0.0)))
    }
    val comps = pcaSolve(e, k, iters, dim.get)
    def r6(x: Column) = floor(x * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val coordCols = (1 to k).map { c =>
      if (c <= comps.size) {
        val vLit = array(comps(c - 1)._1.toSeq.map(lit): _*)
        r6(dotProduct(col("v"), vLit)).as(s"pc$c")
      } else r6(lit(0.0)).as(s"pc$c") // dead direction: exact 0.0
    }
    e.select(col("vec_id") +: coordCols: _*)
  }

  /** The vector length the PCA entries iterate over, read from the
    * first row; None for an EMPTY corpus (callers emit the empty
    * card). */
  private def pcaDim(e: DataFrame): Option[Int] =
    e.select(size(col("v"))).limit(1).collect().headOption.map(_.getInt(0))

  /** The shared power-iteration loop over a (possibly deflated)
    * corpus plan: `iters` × (fixed-point accumulate, sequential norm,
    * normalize). Returns λ = 0 (and the last good v) when an
    * iteration accumulates all-zero sums — no variance left to
    * follow, the deflation-exhausted / all-zero-corpus signal. */
  private def powerIterate(e: DataFrame, iters: Int,
      dim: Int): (Array[Double], Double) = {
    val Scale = (1L << 30).toDouble
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    var it = 0
    var dead = false
    while (it < iters && !dead) {
      val vLit = array(v.toSeq.map(lit): _*)
      val rows = e
        .select(dotProduct(col("v"), vLit).as("dot"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("pos"),
          round(col("x") * col("dot") * lit(Scale)).cast("long").as("q"))
        .groupBy(col("pos")).agg(sum(col("q")).as("s"))
        .orderBy(col("pos")).collect()
      val w = new Array[Double](dim)
      rows.foreach(r => w(r.getInt(0)) = r.getLong(1).toDouble / Scale)
      var ss = 0.0
      var j = 0
      while (j < dim) { ss += w(j) * w(j); j += 1 }
      lambda = math.sqrt(ss)
      if (lambda == 0.0) dead = true
      else v = w.map(_ / lambda)
      it += 1
    }
    (v, lambda)
  }

  /** DuckDB mirror for [[pcaTopComponent]]: v₀ → `iters` ×
    * (fixed-point accumulate, list-ordered norm, normalize) as
    * CTE-per-pass, operand-for-operand the Scala side's arithmetic.
    * An all-zero corpus normalizes through the `dot = 0` CASE guard
    * (no 0/0 NaN) to λ = 0 and the `WHERE lam <> 0` tail emits zero
    * rows — the Scala side's empty card. */
  def pcaOracleSql(iters: Int = 3, dim: Int = 64): String = {
    def passCtes(p: Int): String = {
      val prev = if (p == 1) "v0" else s"v${p - 1}"
      s"""s$p AS (SELECT t.i - 1 AS pos,
              sum(CAST(round(list_extract(e.v, t.i)
                    * list_dot_product(e.v, $prev.vl)
                    * 1073741824.0) AS BIGINT)) AS s
            FROM e CROSS JOIN $prev
            CROSS JOIN unnest(generate_series(1, $dim)) AS t(i)
            GROUP BY 1),
         w$p AS (SELECT list(CAST(s AS DOUBLE) / 1073741824.0 ORDER BY pos) AS wl
                 FROM s$p),
         v$p AS (SELECT list_transform(wl,
                   x -> CASE WHEN list_dot_product(wl, wl) = 0 THEN 0.0
                        ELSE x / sqrt(list_dot_product(wl, wl)) END) AS vl,
                 sqrt(list_dot_product(wl, wl)) AS lam
                 FROM w$p)"""
    }
    val passes = (1 to iters).map(passCtes).mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
         v0 AS (SELECT list_transform(generate_series(1, $dim),
                  i -> 1.0 / sqrt(CAST($dim AS DOUBLE))) AS vl),
         $passes,
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM e)
         SELECT CAST(t.i - 1 AS BIGINT) AS pos,
                floor(list_extract(vl, t.i) * 1000000.0 + 0.5) / 1000000.0 AS loading,
                floor(lam * 1000000.0 + 0.5) / 1000000.0 AS lambda,
                n_vectors
         FROM v$iters, nn
         CROSS JOIN unnest(generate_series(1, $dim)) AS t(i)
         WHERE lam <> 0"""
  }

  /** DuckDB mirror for [[pcaComponents]]: the [[pcaOracleSql]] pass
    * CTEs repeated per component, with a DEFLATION CTE between
    * components (`x_j − (x·v)·v_j`, the identical IEEE expression
    * shape as the Spark zip_with) — operand-for-operand the Scala
    * side's arithmetic, so all k·d loadings and every λ hash-match.
    *
    * Rank r < k replays too: a dead pass (all-zero fixed-point sums)
    * normalizes to an all-zero v through the `dot = 0` CASE guard
    * (never 0/0 NaN), deflation by a zero vector is the identity, so
    * every component past r carries λ = 0 exactly and the final
    * `WHERE lam <> 0` drops it — the same components 1..r the Scala
    * early stop emits. */
  def pcaKOracleSql(k: Int = 4, iters: Int = 3, dim: Int = 64): String = {
    val rows = (1 to k).map { c =>
      s"""SELECT CAST($c AS BIGINT) AS component,
                CAST(t.i - 1 AS BIGINT) AS pos,
                floor(list_extract(vl, t.i) * 1000000.0 + 0.5) / 1000000.0 AS loading,
                floor(lam * 1000000.0 + 0.5) / 1000000.0 AS lambda,
                n_vectors
         FROM v${c}_$iters, nn
         CROSS JOIN unnest(generate_series(1, $dim)) AS t(i)
         WHERE lam <> 0"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ${pcaKCtes(k, iters, dim)},
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM e1)
         $rows"""
  }

  /** The shared CTE body of [[pcaKOracleSql]] and
    * [[pcaProjectOracleSql]]: the base corpus `e1`, v₀, and per
    * component the `iters` power passes plus the deflation CTE —
    * ending with each component's converged `v<c>_<iters>(vl, lam)`
    * 1-row relation. */
  private def pcaKCtes(k: Int, iters: Int, dim: Int): String = {
    def passCtes(c: Int, p: Int): String = {
      val prev = if (p == 1) "v0" else s"v${c}_${p - 1}"
      s"""s${c}_$p AS (SELECT t.i - 1 AS pos,
              sum(CAST(round(list_extract(e.v, t.i)
                    * list_dot_product(e.v, $prev.vl)
                    * 1073741824.0) AS BIGINT)) AS s
            FROM e$c e CROSS JOIN $prev
            CROSS JOIN unnest(generate_series(1, $dim)) AS t(i)
            GROUP BY 1),
         w${c}_$p AS (SELECT list(CAST(s AS DOUBLE) / 1073741824.0 ORDER BY pos) AS wl
                 FROM s${c}_$p),
         v${c}_$p AS (SELECT list_transform(wl,
                   x -> CASE WHEN list_dot_product(wl, wl) = 0 THEN 0.0
                        ELSE x / sqrt(list_dot_product(wl, wl)) END) AS vl,
                 sqrt(list_dot_product(wl, wl)) AS lam
                 FROM w${c}_$p)"""
    }
    def deflCte(c: Int): String =
      s"""e${c + 1} AS (SELECT e.vec_id,
            list_transform(generate_series(1, $dim),
              i -> list_extract(e.v, i)
                   - list_dot_product(e.v, d$c.vl) * list_extract(d$c.vl, i)) AS v
          FROM e$c e CROSS JOIN v${c}_$iters d$c)"""
    val body = (1 to k).map { c =>
      val passes = (1 to iters).map(p => passCtes(c, p)).mkString(",\n         ")
      if (c < k) s"$passes,\n         ${deflCte(c)}" else passes
    }.mkString(",\n         ")
    s"""e1 AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
         v0 AS (SELECT list_transform(generate_series(1, $dim),
                  i -> 1.0 / sqrt(CAST($dim AS DOUBLE))) AS vl),
         $body"""
  }

  /** DuckDB mirror for [[pcaProject]]: the [[pcaKCtes]] solve verbatim,
    * then one projection SELECT dotting every base vector against each
    * component's converged `vl` — the identical sequential fold and the
    * identical floor-rounding shape as the Spark column expressions, so
    * every coordinate hash-matches. A dead component's vl is the zero
    * vector (the CASE guard), so its pc column is exact 0.0 — the Spark
    * side's padding. */
  def pcaProjectOracleSql(k: Int = 4, iters: Int = 3, dim: Int = 64): String = {
    val coordCols = (1 to k).map { c =>
      s"""floor(list_dot_product(e.v, d$c.vl) * 1000000.0 + 0.5)
               / 1000000.0 AS pc$c"""
    }.mkString(",\n                ")
    val joins = (1 to k).map(c => s"CROSS JOIN v${c}_$iters d$c")
      .mkString("\n         ")
    s"""WITH ${pcaKCtes(k, iters, dim)}
         SELECT e.vec_id,
                $coordCols
         FROM e1 e
         $joins"""
  }

  /** Lloyd passes of [[kmeansCentroids]] and its mirror. */
  private val KmeansPasses = 2

  /** DuckDB mirror for [[kmeansCentroids]]: seeds → `refinePasses` ×
    * (assign + fixed-point mean) → final assignment counts, generated
    * CTE-per-pass like the BPE oracle. Arithmetic is operand-for-operand
    * the Spark side's (md5-derived seed order, 2^30 scaled-long sums,
    * cosine with smallest-cell tie-break). */
  def kmeansOracleSql(nCells: Int = 8, refinePasses: Int = KmeansPasses): String = {
    def assignCte(name: String, from: String) =
      s"""$name AS (SELECT vec_id, v, cell_id FROM (
            SELECT e.vec_id, e.v, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                     c.cell_id) AS rn
            FROM e CROSS JOIN $from c) WHERE rn = 1)"""
    def meanCte(name: String, from: String) =
      s"""${name}_m AS (SELECT cell_id, i AS pos,
            sum(CAST(round(list_extract(v, i) * 1073741824.0) AS BIGINT)) AS sx,
            count(*) AS n
          FROM $from CROSS JOIN unnest(generate_series(1, len(v))) AS t(i)
          GROUP BY cell_id, i),
        $name AS (SELECT cell_id, list(CAST(sx AS DOUBLE) / n / 1073741824.0 ORDER BY pos) AS cv
                  FROM ${name}_m GROUP BY cell_id)"""
    val passes = (1 to refinePasses).flatMap { p =>
      val prev = if (p == 1) "c0" else s"c${p - 1}"
      Seq(assignCte(s"a$p", prev), meanCte(s"c$p", s"a$p"))
    }.mkString(",\n         ")
    val last = s"c$refinePasses"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e
                ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
                LIMIT $nCells),
         $passes,
         ${assignCte("af", last)},
         mem AS (SELECT cell_id, count(*) AS n_members FROM af GROUP BY cell_id)
         SELECT c.cell_id, coalesce(mem.n_members, 0) AS n_members,
                CAST(t.i - 1 AS BIGINT) AS pos,
                floor(list_extract(c.cv, t.i) * 1000000 + 0.5) / 1000000 AS x
         FROM $last c LEFT JOIN mem ON c.cell_id = mem.cell_id
         CROSS JOIN unnest(generate_series(1, len(c.cv))) AS t(i)"""
  }

  /** Nearest-centroid (Rocchio) classifier over the labeled embedding
    * table — the embedding-space analog of a fastText-style domain /
    * quality labeler in a curation pipeline: fit = ONE aggregation to
    * per-class mean centroids (nClasses×dim rows, fixed-point 2^30
    * coordinate sums so the means are order-independent and
    * engine-exact); predict = the same map-only `nearest_cells`
    * assignment IVF uses (classes as cells, cosine, ties to the
    * smallest label). Returns the confusion matrix (label, pred_label,
    * n) — ≤nClasses² rows; accuracy is its trace. At scale both passes
    * stream the corpus once; only the bounded centroid table ever
    * reaches the driver. */
  def centroidClassify(embeddings: DataFrame): DataFrame = {
    import graft.functions.NearestCells.nearestCells
    val Scale = (1L << 30).toDouble
    val e = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      toDouble(col("embedding")).as("v"))
    val cents = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("x") * Scale).cast("long")).as("sx"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("sx").cast("double") / col("n") / Scale).as("x")))).as("ps"))
      .select(col("label").as("cell_id"), col("ps.x").as("cv"))
    // bounded metadata: nClasses rows (the class alphabet), same class
    // of collect as the IVF centroid set
    val rows = cents.collect()
    require(rows.nonEmpty, "no labeled rows to fit on")
    val ids = rows.map(_.getLong(0))
    val cvs = rows.map(_.getSeq[Double](1).toArray)
    e.select(col("label"),
        element_at(nearestCells(col("v"), ids, cvs, 1), 1).as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** DETERMINISTIC DBSCAN from a pre-mined neighbor-pair table
    * (id_a, id_b = unordered pairs with cos ≥ τ — the "directly
    * density-reachable" relation). Classic DBSCAN leaves border-point
    * assignment scan-order-dependent; this variant pins every choice:
    *
    *  - core    = ≥ `minPts` neighbors (self excluded);
    *  - cluster = connected component of the core-core subgraph,
    *    labelled by its minimum core id ([[graft.operators.Dedup
    *    .connectedComponents]]' size-routed propagation — an isolated
    *    core keeps its own id);
    *  - border  = non-core with ≥ 1 core neighbor, assigned the MIN
    *    cluster label among its core neighbors (total order, no races);
    *  - noise   = everything else, cluster NULL.
    *
    * Identical output to textbook DBSCAN on core membership and
    * cluster partition (those are scan-order-free); only the border
    * tie-break is pinned. Cost after the pair mine: two bounded
    * aggregates + the components pass — the mine itself is the
    * pluggable part (exact O(n²) baseline here via
    * [[graft.operators.Dedup.embeddingDedup]]'s ladder; IVF/LSH
    * candidates at corpus scale feed the same shape). */
  def dbscan(ids: DataFrame, pairs: DataFrame, minPts: Int = 3): DataFrame = {
    val nbrs = pairs
      .select(explode(array(
        struct(col("id_a").as("x"), col("id_b").as("nbr")),
        struct(col("id_b").as("x"), col("id_a").as("nbr")))).as("e"))
      .select(col("e.x").as("x"), col("e.nbr").as("nbr"))
      .localCheckpoint() // degree count + border-assignment scans
    val core = nbrs.groupBy(col("x")).agg(count(lit(1)).as("n_nbrs"))
      .where(col("n_nbrs") >= minPts).select(col("x"))
      .localCheckpoint() // core-edge restriction + membership joins
    val corePairs = pairs
      .join(core.select(col("x").as("id_a")), "id_a")
      .join(core.select(col("x").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b"))
    val comp = graft.operators.Dedup.connectedComponents(corePairs)
    val coreClustered = core
      .join(comp, core("x") === comp("id"), "left")
      .select(col("x"), coalesce(col("component"), col("x")).as("cluster"))
      .localCheckpoint() // border assignment + final membership
    val borderAssign = nbrs
      .join(coreClustered.select(col("x").as("nbr"), col("cluster")), "nbr")
      .groupBy(col("x")).agg(min(col("cluster")).as("bcluster"))
    ids
      .join(coreClustered.select(col("x").as("vec_id"),
        col("cluster").as("ccl")), Seq("vec_id"), "left")
      .join(borderAssign.select(col("x").as("vec_id"), col("bcluster")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("ccl").isNotNull, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("ccl").isNotNull, col("ccl"))
          .otherwise(col("bcluster")).as("cluster"))
  }

  /** Driver entry: DBSCAN of the embedding corpus under cos ≥ τ, pair
    * mine via the size-routed [[graft.operators.Dedup.embeddingDedup]]
    * ladder (exact at this surface; SemDeDup cells past it). */
  def dbscanEmbeddings(embeddings: DataFrame): DataFrame =
    dbscan(embeddings.select(col("vec_id")),
      graft.operators.Dedup.embeddingDedup(embeddings)
        .select(col("id_a"), col("id_b")),
      3)

  /** HARD-NEGATIVE MINING for contrastive training — per query vector,
    * the top-k most-similar vectors carrying a DIFFERENT label. High
    * similarity plus the wrong label is exactly what a contrastive or
    * retrieval loss learns most from (the "hard" in hard negatives);
    * random negatives are trivially separable and waste the batch.
    * Same one-streaming-pass shape as [[bruteForceTopK]]: the corpus
    * streams once past the broadcast query set with the label
    * inequality fused into the join condition, so wrong-label pairs
    * are never materialized. At corpus scale use
    * [[hardNegativesIvf]], which mines the probed candidate pool
    * instead of the full cross product. */
  def hardNegatives(embeddings: DataFrame, maxQueryId: Long, k: Int): DataFrame = {
    val e = spread(embeddings.select(col("vec_id"),
      toDouble(col("embedding")).as("v"), col("label")))
    val q = e.where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored, k)
  }

  /** The 100× form of [[hardNegatives]]: candidates come from the
    * QUANTIZED index's probed search ([[ivfSearchQ]]) oversampled to
    * k·`alpha` — the oversample absorbs both quantization reordering
    * AND candidates lost to the label filter — then only the
    * surviving wrong-label candidates are re-scored exact and ranked
    * to k. Probe cost on int8 codes, exact cost on a key-bounded
    * candidate fetch; the full cross product never exists. With full
    * probes and alpha covering the corpus this equals
    * [[hardNegatives]] exactly (spec-pinned). */
  def hardNegativesIvf(index: IvfQIndex, embeddings: DataFrame,
      maxQueryId: Long, k: Int, alpha: Int = 4, nProbe: Int = 4): DataFrame = {
    val el = embeddings.select(col("vec_id"),
      toDouble(col("embedding")).as("v"), col("label"))
    val q = el.where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"))
    val cand = ivfSearchQ(index,
        q.select(col("query_id"), col("qv")), k * alpha, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val scored = el
      .join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), "query_id")
      .where(col("label") =!= col("qlabel"))
      .withColumn("cos", cosineSim(col("qv"), col("v")))
    topKPerQuery(scored.select(col("query_id"), col("vec_id"), col("cos")), k)
  }

  /** Recall@k card of the IVF-probed ANN against the exact brute-force
    * top-k — the index-quality gate (the ANN twin of Dedup.dedupEval):
    * per query, how many of the true top-k the probed search returned.
    * Both sides are the SAME deterministic pipelines the driver already
    * oracle-checks (`s_ann_brute`, `s_ann_ivf`), so the card replays
    * end-to-end in SQL; integer hit counts, one exact division. A
    * params/data change that silently costs recall moves the card and
    * fails the gate loudly — measured, not assumed. */
  def annRecall(embeddings: DataFrame): DataFrame = {
    val (maxQueryId, k) = (5L, 10)
    // empty-partition tolerance: the IVF build requires ≥1 vector to
    // seed centroids; a recall card over nothing is the empty card
    if (embeddings.isEmpty) {
      import org.apache.spark.sql.types._
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("n_hits", LongType), StructField("n_true", LongType),
          StructField("recall", DoubleType))))
    }
    val exact = bruteForceTopK(embeddings, maxQueryId, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfAnn(embeddings, maxQueryId, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"),
        count(lit(1)).as("n_true"))
      .select(col("query_id"), col("n_hits"), col("n_true"),
        (col("n_hits").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  /** RANK-AWARE index-quality card — the companion [[annRecall]] can't
    * be: recall@k treats position 1 and position k alike, but a
    * retrieval stack cares WHERE the true neighbors land. Harmonic-
    * discount nDCG@k of the IVF ranking against the exact top-k:
    * relevance of the IVF result at position p is (k+1 − exact_rank)
    * when that neighbor is in the exact top-k, else 0; the position
    * discount is 1/(p+1).
    *
    * Cross-engine exactness (why harmonic, not log₂): the classic
    * log₂ discount puts libm inside a hashed output — the repo-wide
    * no-go (q_benford's rationale). With the harmonic discount every
    * weight is the EXACT integer lcm(2..k+1)/(p+1), so dcg/idcg are
    * integer sums and nDCG is ONE closing double division, identical
    * IEEE in any engine.
    *
    * Scale shape: both rankings are the audited searches themselves
    * (corpus streamed once each); everything after is query-grain —
    * one ≤k-row join per query and two bounded aggregates. */
  def ndcgCard(embeddings: DataFrame, maxQueryId: Long = 5,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    require(k >= 1 && k <= 24, "ndcgCard: k in [1, 24] (lcm fits a long)")
    val weightLcm = (2 to k + 1).foldLeft(1L) { (acc, i) =>
      val g = BigInt(acc).gcd(BigInt(i)).toLong; acc / g * i
    }
    val exact = bruteForceTopK(embeddings, maxQueryId, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("erank"))
      .localCheckpoint() // feeds rel AND idcg; one window pass, not two
    val approx = ivfAnn(embeddings, maxQueryId, k, nCells, nProbe)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("pos"))
    val dcg = approx.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        (coalesce(lit(k + 1L) - col("erank"), lit(0L)) *
          expr(s"$weightLcm div (pos + 1)")).as("w"))
      .groupBy(col("query_id")).agg(sum(col("w")).as("dcg_scaled"))
    val idcg = exact
      .select(col("query_id"),
        ((lit(k + 1L) - col("erank")) *
          expr(s"$weightLcm div (erank + 1)")).as("w"))
      .groupBy(col("query_id")).agg(sum(col("w")).as("idcg_scaled"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        col("idcg_scaled"),
        graft.functions.Exact.round6(
          coalesce(col("dcg_scaled"), lit(0L)).cast("double")
            / col("idcg_scaled").cast("double")).as("ndcg"))
  }

  /** EXACT silhouette card for the labeled clustering — the "is this
    * partition actually separating anything" QA read before trusting
    * per-label models or a stratified mixture. Per vector: a = mean
    * cosine DISTANCE to its own label (excl. self), b = the smallest
    * other-label mean distance (that label emitted as `b_label` — the
    * confusion neighbor), s = (b−a)/max(a,b).
    *
    * Cross-engine exactness: each pair distance is the integer
    * `1e6 − floor(cos·1e6 + 0.5)` (the round6 grid), so the per-
    * (vector, label) sums are exact integers; the means never form —
    * s is computed CROSS-MULTIPLIED, (sb·ca − sa·cb)/max(sa·cb, sb·ca)
    * in Decimal(38,0)/HUGEINT with ONE closing division. The b-label
    * argmin does divide doubles, but both engines divide the SAME
    * exact integers — identical IEEE results — with ties pinned by
    * label. Singleton clusters take the textbook s = 0.
    *
    * Cost: the O(n²) exact pair scan (the knnGraph class — fine to
    * ~10⁴ vectors); the corpus-scale rung is IMPLEMENTED as
    * [[silhouetteCentroid]] — same output shape, linear cost. */
  def silhouette(embeddings: DataFrame): DataFrame = {
    val e = spread(embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"), toDouble(col("embedding")).as("v")))
    val grp = e.select(col("vec_id").as("i"), col("label").as("li"),
        col("v").as("vi"))
      .join(broadcast(e.select(col("vec_id").as("j"), col("label").as("lj"),
        col("v").as("vj"))), col("i") =!= col("j"))
      .select(col("i"), col("li"), col("lj"),
        (lit(1000000L) -
          floor(cosineSim(col("vi"), col("vj")) * 1e6 + 0.5).cast("long"))
          .as("dmicro"))
      .groupBy(col("i"), col("li"), col("lj"))
      .agg(sum(col("dmicro")).as("sd"), count(lit(1)).as("cnt"))
      .localCheckpoint() // a-side and b-side both scan it
    val aSide = grp.where(col("li") === col("lj"))
      .select(col("i").as("vec_id"), col("sd").as("sa"), col("cnt").as("ca"))
    val bSide = grp.where(col("li") =!= col("lj"))
      .groupBy(col("i").as("vec_id"))
      .agg(min(struct(
        (col("sd").cast("double") / col("cnt")).as("mean_d"),
        col("lj").as("bl"), col("sd").as("sb"), col("cnt").as("cb"))).as("b"))
      .select(col("vec_id"), col("b.bl").as("b_label"),
        col("b.sb").as("sb"), col("b.cb").as("cb"))
    e.select(col("vec_id"), col("label"))
      .join(aSide, Seq("vec_id"), "left")
      .join(bSide, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("b_label"),
        when(col("sa").isNull || col("sb").isNull, lit(0.0))
          .when(greatest(expr("CAST(sa AS DECIMAL(38,0)) * cb"),
            expr("CAST(sb AS DECIMAL(38,0)) * ca")) === 0, lit(0.0))
          .otherwise(
            expr("CAST(CAST(sb AS DECIMAL(38,0)) * ca" +
              " - CAST(sa AS DECIMAL(38,0)) * cb AS DOUBLE)") /
            expr("CAST(greatest(CAST(sa AS DECIMAL(38,0)) * cb," +
              " CAST(sb AS DECIMAL(38,0)) * ca) AS DOUBLE)"))
          .as("sil"))
  }

  /** SIMPLIFIED (centroid-based) silhouette — the corpus-scale rung of
    * [[silhouette]], same card shape at LINEAR cost: a(i) = cosine
    * distance to the vector's OWN label centroid, b(i) = the smallest
    * distance to another label's centroid (that label emitted as
    * `b_label`), s = (b−a)/max(a,b). The standard simplification
    * (Hruschka's simplified silhouette): replacing per-pair means with
    * the per-label mean vector turns the O(n²) pair scan into one
    * label-grain aggregation (shuffle bounded at labels×dim rows — the
    * [[centroidClassify]] fit shape, fixed-point 2^30 coordinate sums
    * so centroids are order-independent and engine-exact) plus one
    * bounded ≤|labels| broadcast fanout per vector. The corpus is
    * scanned twice and never pair-joined, never broadcast — at 100 TB
    * this is the silhouette you can actually run.
    *
    * Cross-engine exactness: centroid coordinates divide the SAME
    * exact integers in both engines (identical IEEE doubles), each
    * distance lands on the `1e6 − floor(cos·1e6 + 0.5)` integer grid,
    * and s is ONE closing division of those integers; the b-argmin
    * ties pin to the smallest label. Singleton clusters take the
    * textbook s = 0 (matching [[silhouette]]'s convention). */
  def silhouetteCentroid(embeddings: DataFrame): DataFrame = {
    val Scale = (1L << 30).toDouble
    val e = spread(embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"), toDouble(col("embedding")).as("v")))
    val cents = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("x") * Scale).cast("long")).as("sx"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("sx").cast("double") / col("n") / Scale).as("x")))).as("ps"),
        max(col("n")).as("cn"))
      .select(col("label").as("clabel"), col("ps.x").as("cv"), col("cn"))
    val d = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"), col("cn"),
        (lit(1000000L) -
          floor(cosineSim(col("v"), col("cv")) * 1e6 + 0.5).cast("long"))
          .as("dmicro"))
    d.groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("label") === col("clabel"), col("dmicro"))).as("da"),
        max(when(col("label") === col("clabel"), col("cn"))).as("ca"),
        min(when(col("label") =!= col("clabel"),
          struct(col("dmicro").as("db"), col("clabel").as("bl")))).as("b"))
      .select(col("vec_id"), col("label"), col("b.bl").as("b_label"),
        when(col("ca") === 1 || col("b").isNull, lit(0.0))
          .when(greatest(col("da"), col("b.db")) === 0, lit(0.0))
          .otherwise((col("b.db") - col("da")).cast("double") /
            greatest(col("da"), col("b.db")).cast("double"))
          .as("sil"))
  }

  /** MMR (maximal-marginal-relevance) diversified rerank of the exact
    * top-k: greedy pick-by-pick selection maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the standard retrieval
    * re-ranker that trades raw similarity against redundancy with the
    * already-picked set (a near-duplicate of pick 1 never fills slot
    * 2). λ and its complement are SEPARATE literals (0.7 / 0.3), never
    * `1 − λ` computed at runtime — 1−0.7 is 0.30000000000000004 in
    * IEEE and the oracle replays the literal 0.3.
    *
    * Scale shape: candidate generation is [[bruteForceTopK]]'s audited
    * one-pass scan (or any ANN source — the greedy only sees the
    * candidate table); everything after is bounded per query
    * (≤ kCand² pairwise sims, kOut unrolled selection steps, each an
    * equi-join + query-partitioned rank — never corpus-grain). Scores
    * are 6-decimal-floored BEFORE ranking so the argmax replays
    * identically in any engine; ties break by neighbor id. */
  def mmrRerank(embeddings: DataFrame, maxQueryId: Long = 5,
      kCand: Int = 10, kOut: Int = 5): DataFrame =
    mmrRerankFrom(
      bruteForceTopK(embeddings, maxQueryId, kCand)
        .select(col("query_id"), col("neighbor_id"), col("cos").as("rel")),
      embeddings, kOut)

  /** The 100× form of [[mmrRerank]]: candidates from the IVF index
    * scan instead of the exact pass — same greedy, same bounded
    * per-query rerank; only the candidate source pays corpus cost. */
  def mmrRerankIvf(embeddings: DataFrame): DataFrame =
    mmrRerankFrom(
      ivfAnn(embeddings, 5, 10)
        .select(col("query_id"), col("neighbor_id"), col("cos").as("rel")),
      embeddings)

  /** Greedy MMR over an arbitrary candidate table (query_id,
    * neighbor_id, rel) — the rerank is candidate-source-agnostic:
    * exact top-k, IVF, or any external retriever feed the same
    * selection. λ = 0.7 and its complement 0.3 are separate literals
    * (see [[mmrRerank]]). */
  def mmrRerankFrom(candidates: DataFrame, embeddings: DataFrame,
      kOut: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.round6
    val (lam, lamC) = (0.7, 0.3)
    val cand = candidates.localCheckpoint() // referenced by every step
    val e = prepared(embeddings)
    val ce = cand.join(e, col("neighbor_id") === col("vec_id"))
      .select(col("query_id"), col("neighbor_id"), col("v"))
    val sims = ce.alias("a").join(ce.alias("b"), Seq("query_id"))
      .where(col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("query_id"), col("a.neighbor_id").as("id_a"),
        col("b.neighbor_id").as("id_b"),
        round6(cosineSim(col("a.v"), col("b.v"))).as("sim"))
      .localCheckpoint() // ≤ kCand² rows per query, joined kOut−1 times
    val rank1 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    var selected = cand
      .withColumn("score", round6(lit(lam) * col("rel")))
      .withColumn("rnk", row_number().over(rank1))
      .where(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id"), col("score"),
        lit(1).as("pick"))
      .localCheckpoint()
    var step = 2
    while (step <= kOut) {
      val simToSel = sims
        .join(selected.select(col("query_id"), col("neighbor_id").as("id_b")),
          Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a"))
        .agg(max(col("sim")).as("maxsim"))
        .select(col("query_id"), col("id_a").as("neighbor_id"), col("maxsim"))
      val pick = cand
        .join(selected.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(simToSel, Seq("query_id", "neighbor_id"))
        .withColumn("score",
          round6(lit(lam) * col("rel") - lit(lamC) * col("maxsim")))
        .withColumn("rnk", row_number().over(rank1))
        .where(col("rnk") === 1)
        .select(col("query_id"), col("neighbor_id"), col("score"),
          lit(step).as("pick"))
      // checkpoint per step: `selected` is referenced twice per step
      // (anti-join + sim probe) — without the pin the plan doubles
      // each round (the d_components lesson); ≤ queries·kOut rows
      selected = selected.unionByName(pick).localCheckpoint()
      step += 1
    }
    selected
  }
}
