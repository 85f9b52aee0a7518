package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Convergence-detection fixtures on graphs DEEPER than the old fixed
  * 8-round budget: the peel/relaxation loops must reach their true
  * fixed point by default, while an explicit cap still binds (the
  * driver entries pin 8 to match their unrolled/bounded oracles).
  */
class Round9GraphSpec extends SparkSpec {

  // an undirected 24-node path n00–n23: the 2-core is EMPTY, but the
  // peel strips only the two endpoints per round — 12 rounds to drain,
  // deeper than the old fixed 8
  private lazy val path24 = {
    import spark.implicits._
    (0 until 23).map(i => (f"n$i%02d", f"n${i + 1}%02d", 1L))
      .toDF("src", "dst", "w")
  }

  test("kCore: converges past the old 8-round horizon to the true core") {
    assert(Graph.kCore(path24, k = 2).count() == 0L,
      "the 2-core of a path is empty; a depth-bounded peel under-peels it")
  }

  test("kCore: an explicit round cap still binds") {
    // 8 rounds strip 16 of 24 nodes; the surviving middle path reports
    // its >=2-degree interior — nonempty, the documented capped contract
    assert(Graph.kCore(path24, k = 2, maxRounds = 8).count() > 0L)
  }

  test("allPairsHops from one source: relaxes a 20-hop path fully on both routes") {
    import spark.implicits._
    val edges = (0 until 20).flatMap(i =>
        Seq((f"n$i%02d", f"n${i + 1}%02d", 1L),
          (f"n${i + 1}%02d", f"n$i%02d", 1L)))
      .toDF("src", "dst", "w")
    val source = Seq("n00").toDF("node")
    for (localMax <- Seq(10000L, 0L)) { // driver BFS route, then distributed
      val got = Graph.allPairsHops(edges, source, localMaxEdges = localMax)
        .select(col("node"), col("hops"))
        .orderBy(col("node")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(got.length == 21, s"route localMax=$localMax lost nodes")
      assert(got.last == ("n20", 20L),
        s"route localMax=$localMax under-relaxed the 20-hop tail")
    }
  }

  test("allPairsHops from one source: the hop cap still truncates when pinned") {
    import spark.implicits._
    val edges = (0 until 20).flatMap(i =>
        Seq((f"n$i%02d", f"n${i + 1}%02d", 1L),
          (f"n${i + 1}%02d", f"n$i%02d", 1L)))
      .toDF("src", "dst", "w")
    val source = Seq("n00").toDF("node")
    val got = Graph.allPairsHops(edges, source, maxHops = 8,
        localMaxEdges = 0L)
      .agg(max(col("hops"))).collect()(0).getLong(0)
    assert(got == 8L)
  }

  test("connectedComponents: a 20-hop path converges to ONE component") {
    import spark.implicits._
    // min-propagation moves the min ONE hop per round — 19 rounds to
    // drain, far past the driver's 8-round oracle cap; the default
    // (uncapped) loop must detect the fixed point on its own
    val edges = (0 until 19).map(i => (f"n$i%02d", f"n${i + 1}%02d", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.length == 20 && got.forall(_._2 == "n00"))
  }

  test("connectedComponents: two cliques stay two components; cap binds") {
    import spark.implicits._
    val clique = (p: String) => for {
      i <- 0 until 4; j <- i + 1 until 4
    } yield (s"$p$i", s"$p$j", 1L)
    val edges = (clique("a") ++ clique("b")).toDF("src", "dst", "w")
    val comps = Graph.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(comps.count(_._2 == "a0") == 4 && comps.count(_._2 == "b0") == 4)
    // capped run on the 20-path: 2 rounds move labels 2 hops — the far
    // end cannot have reached n00 yet (the documented capped contract)
    val path = (0 until 19).map(i => (f"n$i%02d", f"n${i + 1}%02d", 1L))
      .toDF("src", "dst", "w")
    val capped = Graph.connectedComponents(path, maxRounds = 2).collect()
    assert(capped.map(_.getString(1)).distinct.length > 1)
  }

  test("labelPropagation: synchronous sweeps + min tie-break, by hand") {
    import spark.implicits._
    // path a-b-c-d, 2 sweeps, all neighbor-label counts are 1 so every
    // adoption is the MIN tie-break:
    //   sweep 1: a→b, b→min(a,c)=a, c→min(b,d)=b, d→c
    //   sweep 2: a sees {a}→a; b sees {b,b}→b; c sees {a,c}→a; d sees {b}→b
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.labelPropagation(edges, rounds = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "b", "c" -> "a", "d" -> "b"))
  }

  test("labelPropagation: deterministic across runs") {
    import spark.implicits._
    val edges = (for { i <- 0 until 6; j <- i + 1 until 6 if (i + j) % 3 != 0 }
      yield (s"v$i", s"v$j", 1L)).toDF("src", "dst", "w")
    val a = Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    val b = Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(a == b)
  }
}
