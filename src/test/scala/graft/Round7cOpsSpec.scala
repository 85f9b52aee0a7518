package graft

import graft.operators.{Events, Graph}

/** Hand-computed fixtures for the round-7 third-wave operators. */
class Round7cOpsSpec extends SparkSpec {

  test("acf: 3-hour series, by-hand centered products") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hourly counts x = [2, 1, 1]: n=3, S=4 → y = 3x−4 = [2, −1, −1],
    // den = 6; lag 1: 2·(−1) + (−1)(−1) = −1 → −1/6; lag 2: 2·(−1) =
    // −2 → −1/3; lags ≥ 3 have no pairs and emit no row
    val ev = Seq(0L, 1L, 3600L, 7200L).toDF("sec")
      .select(timestamp_seconds(col("sec")).as("ts"))
    val got = Events.acf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, -1.0 / 6.0), (2L, 1L, -1.0 / 3.0)))
  }

  test("acf counts silent gap hours as zeros") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // events at hours 0 and 2 only → x = [1, 0, 1], n=3, S=2 →
    // y = [1, −2, 1], den = 6; lag 1: −2 + −2 = −4 → −2/3;
    // lag 2: 1·1 = 1 → 1/6
    val ev = Seq(0L, 7200L).toDF("sec")
      .select(timestamp_seconds(col("sec")).as("ts"))
    val got = Events.acf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, -2.0 / 3.0), (2L, 1L, 1.0 / 6.0)))
  }

  test("acf of an empty or constant series is empty / null-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val empty = Seq.empty[Long].toDF("sec")
      .select(timestamp_seconds(col("sec")).as("ts"))
    assert(Events.acf(empty).count() == 0L)
    // constant series: y ≡ 0, den = 0 → the 0/0 indeterminate is a
    // STATED NULL (rows kept so the lag structure is still visible) —
    // a caller probing a flat series gets "undefined", not a
    // fabricated 0 or an ANSI divide-by-zero error
    val const = Seq(0L, 3600L, 7200L).toDF("sec")
      .select(timestamp_seconds(col("sec")).as("ts"))
    val rows = Events.acf(const).collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(2)))
  }

  test("dbscan: core bridge merges, borders attach, stragglers are noise") {
    import spark.implicits._
    import graft.operators.Similarity
    // minPts=2: triangles {1,2,3} and {10,11,12} are all-core; node 8
    // linked to core 3 and core 10 has deg 2 → itself CORE, so density
    // connectivity merges both triangles into one cluster labelled 1
    // (the textbook chain rule); node 4 hangs off 1 (deg 1 → border →
    // 1); 5-6 is an isolated pair (deg 1 each, no core neighbor →
    // noise); 7 has no pairs at all (noise)
    val pairs = Seq((1L,2L),(1L,3L),(2L,3L),(10L,11L),(10L,12L),(11L,12L),
      (1L,4L),(3L,8L),(8L,10L),(5L,6L)).toDF("id_a","id_b")
    val ids = (Seq(1L,2L,3L,4L,5L,6L,7L,8L,10L,11L,12L)).toDF("vec_id")
    val got = Similarity.dbscan(ids, pairs, minPts = 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L,"core",1L),(2L,"core",1L),(3L,"core",1L),(4L,"border",1L),
      (5L,"noise",-1L),(6L,"noise",-1L),(7L,"noise",-1L),
      (8L,"core",1L),
      (10L,"core",1L),(11L,"core",1L),(12L,"core",1L)))
  }

  test("dbscan: a border between two clusters takes the MIN cluster") {
    import spark.implicits._
    import graft.operators.Similarity
    // minPts=3: two 4-cliques, every member deg 3 → core, clusters 1
    // and 10; node 8 linked once into each (deg 2 < 3 → border) is
    // density-reachable from both and takes min(1, 10) = 1 — the
    // pinned tie-break classic DBSCAN leaves to scan order
    val pairs = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (10L,11L),(10L,12L),(10L,13L),(11L,12L),(11L,13L),(12L,13L),
      (4L,8L),(8L,10L)).toDF("id_a","id_b")
    val ids = Seq(1L,2L,3L,4L,8L,10L,11L,12L,13L).toDF("vec_id")
    val got = Similarity.dbscan(ids, pairs, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L,"core",1L),(2L,"core",1L),(3L,"core",1L),(4L,"core",1L),
      (8L,"border",1L),
      (10L,"core",10L),(11L,"core",10L),(12L,"core",10L),(13L,"core",10L)))
  }

  test("dbscan: an isolated core keeps its own id as cluster") {
    import spark.implicits._
    import graft.operators.Similarity
    // star: 20 linked to 21,22,23 (deg 3 → core at minPts=3); the
    // leaves have deg 1 → border; no core-core edge exists, so the
    // core's component falls back to its own id
    val pairs = Seq((20L,21L),(20L,22L),(20L,23L)).toDF("id_a","id_b")
    val ids = Seq(20L,21L,22L,23L).toDF("vec_id")
    val got = Similarity.dbscan(ids, pairs, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((20L,"core",20L),(21L,"border",20L),
      (22L,"border",20L),(23L,"border",20L)))
  }

  test("silhouette: orthogonal label pair, singleton, confusion neighbor") {
    import spark.implicits._
    import graft.operators.Similarity
    // labels 0 = {(1,0)×2}, 1 = {(0,1)×2}, 2 = {(.6,.8)} — within-label
    // distance 0, cross 0↔1 distance 1e6 → s=1 for all four; the
    // singleton gets the textbook s=0 with b_label = its nearest label
    // by mean distance: d(2,1)=1−0.8 < d(2,0)=1−0.6 → b_label 1
    val e = Seq(
      (1L, Array(1f, 0f), 0L), (2L, Array(1f, 0f), 0L),
      (3L, Array(0f, 1f), 1L), (4L, Array(0f, 1f), 1L),
      (5L, Array(0.6f, 0.8f), 2L)).toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    // v1: a=0 (to v2), b = min(label1 mean 1e6, label2 mean 4e5) →
    // b_label 2, s = (4e5·1 − 0)/max(0, 4e5) = 1
    assert(got == Seq(
      (1L, 0L, 2L, 1.0), (2L, 0L, 2L, 1.0),
      (3L, 1L, 2L, 1.0), (4L, 1L, 2L, 1.0),
      (5L, 2L, 1L, 0.0)))
  }

  test("silhouette: coincident clusters give the stated 0, not 0/0") {
    import spark.implicits._
    import graft.operators.Similarity
    // two labels, all four vectors identical: sa=0 AND sb=0 → the
    // max(a,b)=0 guard yields 0 instead of an indeterminate
    val e = Seq(
      (1L, Array(1f, 0f), 0L), (2L, Array(1f, 0f), 0L),
      (3L, Array(1f, 0f), 1L), (4L, Array(1f, 0f), 1L))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(e).collect()
    assert(got.length == 4 && got.forall(_.getDouble(3) == 0.0))
  }

  test("dedupEval: tp/fp/fn with canonicalization, empty gives zero card") {
    import spark.implicits._
    import graft.operators.Dedup
    // candidates {(1,2),(3,4),(5,6)} vs truth {(1,2),(3,4),(7,8)} —
    // (2,1) reversed and (3,4) duplicated must collapse first
    val cand = Seq((2L,1L),(1L,2L),(3L,4L),(3L,4L),(5L,6L)).toDF("id_a","id_b")
    val truth = Seq((1L,2L),(4L,3L),(7L,8L)).toDF("id_a","id_b")
    val r = Dedup.dedupEval(cand, truth).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 3L, 2L, 1L, 1L)))
    assert(r.getDouble(5) == 2.0 / 3.0 && r.getDouble(6) == 2.0 / 3.0)
    // empty on both sides: all-zero counts, NULL rates (no fabricated 1.0)
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val z = Dedup.dedupEval(none, none).collect().head
    assert((0 to 4).map(z.getLong(_)).forall(_ == 0L))
    assert(z.isNullAt(5) && z.isNullAt(6))
  }

  test("retentionPurge: audit card is exact, pre-purge state stays readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-spec-ttl").toString
    val cat = new graft.sources.Catalog(spark, root)
    val t = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "age")
    // purge age > 25 → keeps {1,2}; card 2/2; snapshot v1 = kept slice
    val c1 = cat.retentionPurge("t", t, col("age") <= 25).collect().head
    assert((c1.getLong(0), c1.getLong(1)) == ((2L, 2L)))
    assert(cat.readSnapshot("t").select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
    // second, tighter purge appends v2; v1 is STILL the 2-row state —
    // the pre-purge audit trail time travel exists for
    val c2 = cat.retentionPurge("t", cat.readSnapshot("t"),
      col("age") <= 15).collect().head
    assert((c2.getLong(0), c2.getLong(1)) == ((1L, 1L)))
    assert(cat.snapshotVersions("t") == Seq(1, 2))
    assert(cat.readSnapshot("t", 1).count() == 2L)
    assert(cat.readSnapshot("t", 2).select("id").collect().head.getLong(0) == 1L)
    // empty input: all-zero card, and the empty snapshot still commits
    val z = cat.retentionPurge("t", t.limit(0), col("age") <= 25).collect().head
    assert((z.getLong(0), z.getLong(1)) == ((0L, 0L)))
  }

  test("chiSquareCard: hand-computed 2x2 contingency") {
    import spark.implicits._
    import graft.operators.Analytics
    // obs: (A,X)=3 (A,Y)=1 (B,X)=1 (B,Y)=3 → N=8, all margins 4,
    // E=2 everywhere (exp_micro 2_000_000); every cell's
    // (O·N−R·C)²/(R·C·N) = 8²/128 = 0.5 → χ² would total 2.0
    val orders = (Seq.fill(3)(("A","X")) ++ Seq(("A","Y")) ++
      Seq(("B","X")) ++ Seq.fill(3)(("B","Y")))
      .toDF("o_orderstatus", "o_orderpriority")
    val got = Analytics.chiSquareCard(orders)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("A","X")) == ((3L, 2000000L, 0.5)))
    assert(got(("A","Y")) == ((1L, 2000000L, 0.5)))
    assert(got(("B","X")) == ((1L, 2000000L, 0.5)))
    assert(got(("B","Y")) == ((3L, 2000000L, 0.5)))
  }

  // A 4-clique {a,b,c,d} with a pendant path e-f hanging off d: the
  // classic k-core fixture — peeling at k=3 strips f (deg 1), then e
  // (deg 1 after f), leaving the clique where everyone keeps degree 3.
  private def cliquePlusTail = {
    import spark.implicits._
    Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("d","e"),("e","f"))
      .toDF("src", "dst").withColumn("w", org.apache.spark.sql.functions.lit(1L))
  }

  test("kCore peels the pendant tail, keeps the 4-clique at degree 3") {
    val got = Graph.kCore(cliquePlusTail, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("a",3L),("b",3L),("c",3L),("d",3L)))
  }

  test("kCore at k above the max clique degree empties") {
    assert(Graph.kCore(cliquePlusTail, k = 4).count() == 0L)
  }

  test("kCore ignores direction and duplicate/self edges") {
    import spark.implicits._
    // same clique, with reversed duplicates and a self loop thrown in
    val noisy = cliquePlusTail.union(
      Seq(("b","a"),("d","c"),("a","a")).toDF("src","dst")
        .withColumn("w", org.apache.spark.sql.functions.lit(1L)))
    val got = Graph.kCore(noisy, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("a",3L),("b",3L),("c",3L),("d",3L)))
  }

  test("neighborJaccard: path a-b-c gives the endpoints jac 1 via b") {
    import spark.implicits._
    // path a-b-c: N(a)={b}, N(c)={b} → pair (a,c): common 1, union 1,
    // jac 1.0, not linked. Pairs (a,b)/(b,c) share no neighbor (a path
    // has no triangles) so only one row comes back.
    val edges = Seq(("a","b"),("b","c")).toDF("src","dst")
      .withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val got = Graph.neighborJaccard(edges).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getBoolean(4), r.getDouble(5)) == ("a", "c", 1L, 1L, false, 1.0))
  }

  test("neighborJaccard on the 4-clique: every pair linked, jac 0.5") {
    import spark.implicits._
    val clique = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),
      ("c","d")).toDF("src","dst")
      .withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val got = Graph.neighborJaccard(clique)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getDouble(5)))
    // each pair (x,y): N(x)\{y} ∩ N(y)\{x}? no — neighbor sets INCLUDE
    // the partner: N(a)={b,c,d}, N(b)={a,c,d} → common {c,d} = 2,
    // union = 3+3-2 = 4, jac = 0.5
    assert(got.length == 6)
    assert(got.forall { case (_, _, c, u, l, j) =>
      c == 2L && u == 4L && l && j == 0.5 })
  }
}
