package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over a DERIVED graph: the star schema has no native
  * edge table, so the trade network — supplier nation → customer nation,
  * weighted by shipped line items — serves as the graph the reference's
  * "who talks to whom" statistics would be asked of. Connected
  * components live in Dedup (similarity graphs); this file holds the
  * ranked-importance side (PageRank).
  *
  * Cross-engine exactness: ranks are FIXED-POINT BIGINTs (SCALE = 1e12)
  * and every iteration step is integer multiply / floor-divide / sum —
  * exact in any accumulation order, so K iterations replay bit-identical
  * in DuckDB as generated CTEs (the kmeans/BPE replay pattern). A float
  * PageRank would diverge across engines in the per-node contribution
  * sum's ordering; the integer form cannot.
  */
object Graph {

  val Scale = 1000000000000L // 1e12: 12 fractional digits of rank

  /** Largest per-edge weight [[pagerank]] accepts: rank ≤ [[Scale]]
    * and rank·w must stay under 2^63. */
  val WeightLimit: Long = Long.MaxValue / Scale // 9 223 372

  /** Automatic weight pre-scaling for [[pagerank]]: divide every
    * weight by k = ⌈max(w)/[[WeightLimit]]⌉, clamping at 1 so no edge
    * vanishes. Only w/outw ratios enter the rank update, and those
    * shift by at most ~k/w relative per edge — 1 part in ~9.2e6 at
    * worst for unit weights, negligible for the heavy edges that
    * forced the scaling; an exact-replay oracle comparison should
    * pre-scale upstream of BOTH engines instead of relying on this.
    * No-op (same frame, no extra scan at plan time) when max(w)
    * already fits. */
  def prescaleWeights(edges: DataFrame): DataFrame = {
    val maxW = edges.agg(coalesce(max(col("w")), lit(0L))).head.getLong(0)
    if (maxW <= WeightLimit) edges
    else {
      val k = maxW / WeightLimit + 1
      edges.withColumn("w", greatest(expr(s"w div $k"), lit(1L)))
    }
  }

  /** Materialize one iteration input (localCheckpoint, the BPE/kmeans
    * iteration idiom): without the lineage cut every iteration's plan
    * re-derives the whole edge pipeline — repeated fact scans and a
    * plan tree that grows with the iteration count. Per-iteration
    * state is node/edge-AGGREGATE grain; a caller that knows the graph
    * is tiny (the 25-nation instance) pins it to one partition (32×
    * fewer tasks per iteration); a large graph passes None and keeps
    * the default parallelism. */
  private def pin(df: DataFrame, coalesceTo: Option[Int]): DataFrame =
    coalesceTo.map(df.coalesce).getOrElse(df).localCheckpoint()

  /** The undirected view of a directed edge table: each edge once as
    * (a = least, b = greatest) endpoint, self-loops dropped. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Both directions of an [[undirected]] view as (x, nbr) rows. */
  private def neighbours(und: DataFrame): DataFrame =
    und.select(col("a").as("x"), col("b").as("nbr"))
      .union(und.select(col("b").as("x"), col("a").as("nbr")))

  /** Nation-level trade edges: (src = supplier nation, dst = customer
    * nation, w = line items shipped). lineitem⋈orders is the ONLY
    * fact-fact shuffle; supplier/customer/nation dim chains broadcast.
    * Output is ≤ |nations|² rows — the aggregate collapses the fact
    * volume before any graph work happens. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val sup = broadcast(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey")))
    val cust = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey")))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("sk"), col("n_name").as("src"))),
        col("s_nationkey") === col("sk"))
      .join(broadcast(nat.select(col("n_nationkey").as("ck"), col("n_name").as("dst"))),
        col("c_nationkey") === col("ck"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Fixed-point PageRank, `iters` synchronous iterations at damping
    * 0.85. Each iteration is the scalable DataFrame shape — edges ⋈
    * ranks on src, contributions floor-divided per out-weight, one
    * aggregate on dst — so the SAME plan runs a million-node graph; for
    * the 25-nation instance every join auto-broadcasts. Dangling mass
    * (nodes without out-edges) is dropped, not redistributed — the
    * standard simplification, deterministic, and stated here so the
    * oracle can mirror it. `rank` is the single exact-input division
    * rank_scaled / 1e12.
    *
    * Overflow headroom, ENFORCED: rank ≤ SCALE (1e12) and per-edge
    * weight w must keep rank·w < 2^63 — w ≤ [[WeightLimit]] (~9.2e6).
    * The guard below checks max(w) once against the pinned aggregate-
    * grain edge table (a bounded metadata aggregate, not a fact scan)
    * and REFUSES to run rather than silently wrap; [[prescaleWeights]]
    * is the automatic remedy (only w/outw ratios matter). Per-dst
    * contribution sums cannot overflow independently: each source
    * distributes at most its own rank, so all contributions together
    * total ≤ SCALE. */
  def pagerank(edges: DataFrame, nodes: DataFrame, iters: Int = 3,
      coalesceTo: Option[Int] = None): DataFrame = {
    val n1 = nodes.agg(count(lit(1)).as("n_nodes"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = pin(edges.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("ow")), coalesceTo)
    val maxW = e.agg(coalesce(max(col("w")), lit(0L))).head.getLong(0)
    require(maxW <= WeightLimit,
      s"pagerank: max edge weight $maxW overflows the rank*w 63-bit headroom " +
        s"(limit $WeightLimit); run the edges through Graph.prescaleWeights " +
        "first - only w/outw ratios matter")
    val nodesN = pin(nodes.crossJoin(broadcast(n1)), coalesceTo)
    var ranks = nodesN
      .select(col("node"), expr(s"CAST($Scale AS BIGINT) div n_nodes").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(rank * w) div ow").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      val prev = ranks
      ranks = pin(nodesN
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          expr(s"(($Scale div 100) * 15) div n_nodes" +
            s" + (85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100").as("rank")),
        coalesceTo)
      prev.unpersist()
    }
    ranks
      .select(col("node"), col("rank").as("rank_scaled"),
        (col("rank").cast("double") / Scale.toDouble).as("rank"))
  }

  /** Driver entry: PageRank of the nation trade network. */
  def nationPagerank(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.nation(spark, dir).select(col("n_name").as("node"))
    pagerank(tradeEdges(spark, dir), nodes, 3, coalesceTo = Some(1))
      .withColumnRenamed("node", "n_name")
  }

  /** Triangle census of the undirected trade graph. Canonicalizing each
    * edge to (least, greatest) IS the classic orientation trick: every
    * triangle a<b<c is generated exactly once as the wedge a→b→c closed
    * by a→c, so the count needs no /6 correction and the wedge join's
    * fan-out is bounded by forward-degrees. Two self-joins on the
    * deduplicated edge table — the MapReduce triangle-count benchmark
    * re-expressed as joins Catalyst can reorder. Output is one
    * summary row. */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val und = undirected(edges).localCheckpoint() // scanned three times below
    val nNodes = und.select(col("a").as("x"))
      .union(und.select(col("b").as("x"))).distinct().count()
    val nEdges = und.count()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((nNodes, nEdges, tri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Driver entry: triangle census of the nation trade network. */
  def nationTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(tradeEdges(spark, dir))

  /** Degree profile of the directed trade graph: per node the out/in
    * partner counts and total edge weight in each direction. Two
    * aggregates over the (already nation-grain) edge table plus two
    * broadcast joins back to the node list — reachable-degree zero rows
    * are kept (coalesce 0), which is what makes this the data-card
    * companion to [[pagerank]]: isolated nodes show up instead of
    * silently vanishing. Output is one row per node. */
  def degreeProfile(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val outs = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"))
    val ins = edges.groupBy(col("dst"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    nodes
      .join(outs, col("node") === col("src"), "left")
      .join(ins, col("node") === col("dst"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Driver entry: degree profile of the nation trade network. */
  def nationDegrees(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.nation(spark, dir).select(col("n_name").as("node"))
    degreeProfile(tradeEdges(spark, dir), nodes)
      .withColumnRenamed("node", "n_name")
  }

  /** Each node's top-`fanout` out-neighbors by weight (ties by dst
    * name), self-loops dropped — the backbone the nation traversal and
    * community entries run on: the trade network is near-complete, so
    * unsparsified BFS would trivially answer 1 everywhere, and the
    * top-k backbone is also the shape a real corpus similarity graph
    * is pruned to before traversal. The row_number window partitions
    * on src over an AGGREGATE-grain edge table (≤ |nodes| rows per
    * partition), so it is bounded at any SF. */
  def topKBackbone(edges: DataFrame, fanout: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byW = Window.partitionBy(col("src"))
      .orderBy(col("w").desc, col("dst"))
    edges.where(col("src") =!= col("dst"))
      .withColumn("__rn", row_number().over(byW))
      .where(col("__rn") <= fanout)
      .select(col("src"), col("dst"))
  }

  /** Hop distances from every `sources` node over the directed graph
    * `edges` (src, dst), by synchronous relaxation run TO CONVERGENCE:
    * the loop stops the first round that settles no new (source, node)
    * pair, with `maxHops` as a CONTRACT CAP rather than the stop
    * criterion — callers whose oracle replays a bounded recursion pin
    * it (the driver entries pass 8 to match their `WITH RECURSIVE …
    * WHERE d < 8` replay, and converge inside it). In unit-hop BFS a
    * pair is settled at its exact distance the first round it is
    * reached, so after k rounds every pair whose true distance is ≤ k
    * is exact — the contract of a depth-bounded recursive traversal.
    * One source gives single-source shortest paths.
    *
    * SIZE-ROUTED (the connectedComponents ladder): at or below
    * `localMaxEdges` — gated on the larger of the edge and source
    * counts, since the driver route collects both and materializes
    * every reachable pair — one bounded collect and a driver BFS per
    * source replace the rounds of job scheduling (each an eager
    * checkpoint round-trip, ~0.4 s a round at nation grain); past it
    * the distributed form relaxes every source SIMULTANEOUSLY — each
    * round is one frontier ⋈ edges equi-join on the edge src plus one
    * (src_node, dst) min-aggregate, so the round count is the graph
    * DIAMETER, not |sources|·diameter. State is O(reachable pairs).
    *
    * Returns (src_node, node, hops) for reachable pairs, hops ≥ 0
    * (the 0-row is the source itself); `sources` has one `node`
    * column. */
  def allPairsHops(edges: DataFrame, sources: DataFrame,
      maxHops: Int = Int.MaxValue, localMaxEdges: Long = 10000L): DataFrame = {
    val sedges = edges.select(col("src"), col("dst")).localCheckpoint()
    if (math.max(sedges.count(), sources.count()) <= localMaxEdges) {
      val adj = sedges.collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).map { case (s, a) => (s, a.map(_._2)) }
      val srcs = sources.collect().map(_.getString(0))
      val spark = edges.sparkSession
      import spark.implicits._
      return srcs.toSeq.flatMap { src =>
        val dist = scala.collection.mutable.LinkedHashMap(src -> 0L)
        var frontier = Seq(src)
        var d = 0L
        while (frontier.nonEmpty && d < maxHops) {
          d += 1
          frontier = frontier
            .flatMap(u => adj.getOrElse(u, Array.empty[String]))
            .distinct.filterNot(dist.contains)
          frontier.foreach(v => dist(v) = d)
        }
        dist.toSeq.map { case (n, h) => (src, n, h) }
      }.toDF("src_node", "node", "hops")
    }
    // distributed: settled pairs grow monotonically, so the anti-join
    // keeps first-reach = min-hop
    var settled = sources
      .select(col("node").as("src_node"), col("node"), lit(0L).as("hops"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxHops) {
      round += 1
      val frontier = settled.where(col("hops") === (round - 1).toLong)
      val relaxed = sedges
        .join(frontier, col("src") === col("node"))
        .groupBy(col("src_node"), col("dst"))
        .agg((min(col("hops")) + 1L).as("nh"))
        .select(col("src_node"), col("dst").as("node"), col("nh").as("hops"))
      val newly = relaxed
        .join(settled.select(col("src_node"), col("node")),
          Seq("src_node", "node"), "left_anti")
        .localCheckpoint()
      val nNew = newly.count()
      if (nNew == 0) converged = true
      else {
        val prev = settled
        settled = prev.union(newly).localCheckpoint()
        prev.unpersist()
      }
    }
    settled
  }

  /** Driver entry: hop distances from the alphabetically-first nation
    * over the top-3-partner trade backbone. The hop cap stays at 8 to
    * match the oracle's `WHERE d < 8` bounded recursion; the 25-node
    * backbone converges well inside it. */
  def nationShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val source = Tables.nation(spark, dir).agg(min(col("n_name")).as("node"))
    allPairsHops(topKBackbone(tradeEdges(spark, dir), 3), source, maxHops = 8)
      .select(col("node").as("n_name"), col("hops"))
  }

  /** Harmonic centrality of the nation trade backbone: for each node,
    * Σ over the OTHER reachable nodes of 1/hops — the centrality that
    * stays defined on disconnected graphs (unreachable contributes 0,
    * no ∞-mean pathology). Built on [[allPairsHops]]' converged
    * distances with the driver's usual hop cap matching the oracle's
    * bounded recursion. Exactness: each pair contributes the INTEGER
    * micro-unit `1e6 div hops` (floor), so the per-node sum is
    * order-free; the /1e6 happens once at the end. Nodes reaching
    * nothing still appear, with n_reach = 0 and harmonic = 0. */
  def nationHarmonic(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val nodes = nat.select(col("n_name").as("node"))
    val d = allPairsHops(topKBackbone(tradeEdges(spark, dir), 3), nodes,
      maxHops = 8)
    val scores = d.where(col("hops") > 0L)
      .groupBy(col("src_node"))
      .agg(count(lit(1)).as("nr"),
        sum(expr("1000000 div hops")).as("h6"))
    nodes.join(scores, col("node") === col("src_node"), "left")
      .select(col("node").as("n_name"),
        coalesce(col("nr"), lit(0L)).as("n_reach"),
        (coalesce(col("h6"), lit(0L)).cast("double") / 1000000.0)
          .as("harmonic"))
  }

  /** Neighbor-set Jaccard over the undirected graph — the classic
    * link-prediction card. For every unordered pair (a < b) with at
    * least one common neighbor: |N(a)∩N(b)|, |N(a)∪N(b)| (inclusion–
    * exclusion over the two degrees, both BIGINT-exact), whether the
    * pair is itself an edge, and the similarity as the single
    * exact-input division common/union. The pair generation is the
    * triangle wedge join — fan-out bounded by per-neighbor degree, the
    * same bound the canonical-orientation triangle census rides — so
    * the shape survives a million-node sparse graph; a near-complete
    * instance (the nation network) asks for its quadratic output
    * explicitly. */
  def neighborJaccard(edges: DataFrame): DataFrame = {
    // scanned four times below (nbrs ×2, degs, edge flag)
    val und = undirected(edges).localCheckpoint()
    val nbrs = neighbours(und)
    val degs = nbrs.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val common = nbrs.as("n1")
      .join(nbrs.as("n2"),
        col("n1.nbr") === col("n2.nbr") && col("n1.x") < col("n2.x"))
      .groupBy(col("n1.x").as("node_a"), col("n2.x").as("node_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(degs.select(col("x").as("node_a"), col("deg").as("da")), "node_a")
      .join(degs.select(col("x").as("node_b"), col("deg").as("db")), "node_b")
      .join(und.select(col("a").as("node_a"), col("b").as("node_b"),
        lit(true).as("linked")), Seq("node_a", "node_b"), "left")
      .select(col("node_a"), col("node_b"), col("common"),
        (col("da") + col("db") - col("common")).as("uni"),
        coalesce(col("linked"), lit(false)).as("linked"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double")).as("jac"))
  }

  /** Driver entry: neighbor Jaccard of the top-3-partner trade
    * backbone (the sparsified graph — on the near-complete raw network
    * every pair would share every neighbor and the card says
    * nothing). */
  def nationJaccard(spark: SparkSession, dir: String): DataFrame =
    neighborJaccard(topKBackbone(tradeEdges(spark, dir), 3))

  /** k-core peel of the undirected graph — repeatedly drop nodes
    * whose degree within the surviving subgraph is < k — run TO THE
    * FIXED POINT: the loop stops the first round that removes no node
    * (one bounded count per round on the already-checkpointed survivor
    * set; a round that removes nothing recomputes identical degrees
    * forever after, so stationary survivor count IS convergence).
    * Peeling converges in ≤ |nodes| rounds always, and in practice in
    * a handful — but a 100×-deeper graph now peels fully instead of
    * silently stopping at a fixed depth. `maxRounds` remains as a
    * CONTRACT CAP for callers whose oracle replays a fixed unrolled
    * depth (the driver entry pins 8 to match its CTE-pair replay;
    * convergence inside the cap makes the capped and uncapped results
    * identical there). Output: surviving nodes with their
    * core-subgraph degree.
    *
    * Every round is two bounded aggregates over the AGGREGATE-grain
    * edge table (degrees among survivors, then the ≥ k filter) — the
    * same scalable iteration shape as [[pagerank]], with the per-round
    * state `localCheckpoint`ed and optionally pinned to one partition
    * for tiny graphs. */
  def kCore(edges: DataFrame, k: Int = 3, maxRounds: Int = Int.MaxValue,
      coalesceTo: Option[Int] = None): DataFrame = {
    val und = pin(undirected(edges), coalesceTo)
    var alive = pin(und.select(col("a").as("x"))
      .union(und.select(col("b").as("x"))).distinct(), coalesceTo)
    var nAlive = alive.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val live = und
        .join(alive.select(col("x").as("a")), "a")
        .join(alive.select(col("x").as("b")), "b")
      val deg = live.select(col("a").as("x"))
        .union(live.select(col("b").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      val prev = alive
      alive = pin(deg.where(col("deg") >= k).select(col("x")), coalesceTo)
      val n2 = alive.count() // survivors only shrink: equal count = equal set
      prev.unpersist()
      converged = n2 == nAlive
      nAlive = n2
    }
    // report degrees within the round-R survivor subgraph, filtered to
    // ≥ k — i.e. round R+1's survivors with their degrees; identical
    // final step in the oracle replay, and a no-op once converged
    val live = und
      .join(alive.select(col("x").as("a")), "a")
      .join(alive.select(col("x").as("b")), "b")
    live.select(col("a").as("node")).union(live.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
  }

  /** Driver entry: 3-core of the top-3-partner trade backbone. The
    * round cap stays at 8 — the depth its unrolled CTE oracle replays
    * — but convergence detection exits as soon as a peel removes
    * nothing, so the capped and converged results coincide here while
    * the typical run schedules ~3 rounds instead of always 8. */
  def nationKCore(spark: SparkSession, dir: String): DataFrame =
    kCore(topKBackbone(tradeEdges(spark, dir), 3), k = 3, maxRounds = 8,
      coalesceTo = Some(1))
      .withColumnRenamed("node", "n_name")

  /** Connected components by min-label propagation on the undirected
    * graph, run TO THE FIXED POINT: each round every node takes the
    * MIN of its own component label and its neighbors' — a monotone
    * lattice descent (labels only ever decrease), so "no label changed"
    * is convergence and the loop detects it with one bounded node-grain
    * count per round. Converges in ≤ diameter rounds; `maxRounds`
    * remains as the CONTRACT CAP for fixed-depth oracle replays (the
    * driver entry pins 8 to match its unrolled CTE; convergence inside
    * the cap makes capped and uncapped identical there). Labels are the
    * node names themselves (lexicographic min — a total order both
    * engines share), so the component id is its smallest member: no
    * hash, no salt, engine-exact.
    *
    * Every round is one neighbor join + one min-aggregate over the
    * AGGREGATE-grain edge table with the state `localCheckpoint`ed —
    * the [[pagerank]] iteration shape; min-propagation beats
    * pointer-jumping here because the per-round state is one row per
    * node (Dedup.components keeps the two-phase hash-to-min + pointer
    * jump for the billion-pair dedup graphs where round count
    * dominates). */
  def connectedComponents(edges: DataFrame, maxRounds: Int = Int.MaxValue,
      coalesceTo: Option[Int] = None): DataFrame = {
    val nbrs = pin(neighbours(pin(undirected(edges), coalesceTo)), coalesceTo)
    var comp = pin(nbrs.select(col("x")).distinct()
      .select(col("x"), col("x").as("c")), coalesceTo)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val prev = comp
      comp = pin(comp
        .union(nbrs.join(comp.select(col("x").as("nbr"), col("c")), "nbr")
          .select(col("x"), col("c")))
        .groupBy(col("x")).agg(min(col("c")).as("c")), coalesceTo)
      // monotone: labels only decrease, so any change shows up as a
      // strict inequality — one bounded node-grain count
      val changed = comp.join(prev.select(col("x"), col("c").as("pc")), "x")
        .where(col("c") =!= col("pc")).count()
      prev.unpersist()
      converged = changed == 0
    }
    comp.select(col("x").as("node"), col("c").as("component"))
  }

  /** Driver entry: components of the top-3-partner trade backbone with
    * their sizes. Cap 8 mirrors the unrolled oracle CTE depth. */
  def nationComponents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(topKBackbone(tradeEdges(spark, dir), 3),
      maxRounds = 8, coalesceTo = Some(1))
    comp.withColumn("comp_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("node").as("n_name"), col("component"), col("comp_size"))
  }

  /** Synchronous label propagation communities (LPA, Raghavan et al.
    * 2007), made DETERMINISTIC: each of exactly `rounds` rounds every
    * node adopts the most frequent label among its neighbors, ties to
    * the lexicographically smallest label — a total order, so the
    * replay is engine-exact (classic LPA breaks ties randomly and
    * visits nodes in random order; synchronous sweeps + pinned ties
    * trade some convergence speed for reproducibility). Fixed depth is
    * the honest contract here: synchronous LPA can 2-cycle on bipartite
    * structures, so unlike [[kCore]]/[[connectedComponents]] there is
    * no monotone fixed point to detect — callers pick the depth, the
    * oracle replays it.
    *
    * Per round: one neighbor join, one (node, label) count aggregate,
    * one rank-1 window over the COUNT table (never the fact table) —
    * node/edge-grain state, `localCheckpoint`ed, the [[pagerank]]
    * shape. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
      coalesceTo: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nbrs = pin(neighbours(pin(undirected(edges), coalesceTo)), coalesceTo)
    var lab = pin(nbrs.select(col("x")).distinct()
      .select(col("x"), col("x").as("lbl")), coalesceTo)
    val w = Window.partitionBy(col("x"))
      .orderBy(col("n").desc, col("lbl"))
    for (_ <- 1 to rounds) {
      val prev = lab
      lab = pin(nbrs
        .join(lab.select(col("x").as("nbr"), col("lbl")), "nbr")
        .groupBy(col("x"), col("lbl")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("x"), col("lbl")), coalesceTo)
      prev.unpersist()
    }
    lab.select(col("x").as("node"), col("lbl").as("community"))
  }

  /** Driver entry: 4-round LPA communities of the trade backbone with
    * community sizes — the "who clusters with whom" card next to
    * [[nationComponents]]' "who is reachable from whom". */
  def nationCommunities(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    labelPropagation(topKBackbone(tradeEdges(spark, dir), 3),
      rounds = 4, coalesceTo = Some(1))
      .withColumn("comm_size",
        count(lit(1)).over(Window.partitionBy(col("community"))))
      .select(col("node").as("n_name"), col("community"), col("comm_size"))
  }
}
