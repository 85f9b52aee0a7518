package graft

import graft.operators.Dedup

/** The size-routed entry points ([[Dedup.nearDupAuto]] /
  * [[Dedup.containmentAuto]] / [[Dedup.embeddingDedup]]) that walk
  * exact→LSH/capped ladders by corpus size, so the quadratic
  * formulation is not reachable at scale. */
class AutoLadderRoutingSpec extends SparkSpec {

  test("nearDupAuto takes the exact arm at small size — bit-identical to ngramJaccard") {
    val docs = Tables.documents(spark, sfDir)
    val auto = Dedup.nearDupAuto(docs).collect().map(_.toSeq).toSet
    val exact = Dedup.ngramJaccard(docs, 3, 0.5).collect().map(_.toSeq).toSet
    assert(auto == exact && auto.nonEmpty)
  }

  test("nearDupAuto walks the LSH ladder past exactMaxRows — bit-identical to minhashLsh") {
    val docs = Tables.documents(spark, sfDir)
    val auto = Dedup.nearDupAuto(docs, exactMaxRows = 10).collect().map(_.toSeq).toSet
    val lsh = Dedup.minhashLsh(docs, 3, 64, 16, 0.5, maxBucket = 1000)
      .collect().map(_.toSeq).toSet
    assert(auto == lsh && auto.nonEmpty)
  }

  test("nearDupAuto's LSH arm plans no nested loop or cartesian product") {
    val docs = Tables.documents(spark, sfDir)
    val plan = Dedup.nearDupAuto(docs, exactMaxRows = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("containmentAuto routes and the capped arm stays a subset with true denominators") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.containmentPairs(docs, 3, 0.6).collect().map(_.toSeq).toSet
    val small = Dedup.containmentAuto(docs).collect().map(_.toSeq).toSet
    assert(small == exact)
    val capped = Dedup.containmentAuto(docs, exactMaxRows = 10, maxBucket = 1000)
      .collect().map(_.toSeq).toSet
    // capping only DROPS candidate-generating postings; every kept pair
    // carries its exact containment value (true sizes), so the capped
    // result is a value-exact subset
    assert(capped.subsetOf(exact) && capped.nonEmpty)
  }

  test("embeddingDedup (the routed d_dedup_embed entry) equals the exact baseline at driver scale") {
    val e = Tables.embeddings(spark, sfDir)
    val routed = Dedup.embeddingDedup(e, 0.4).collect().map(_.toSeq).toSet
    val exact = Dedup.embeddingNearDup(e, 0.4).collect().map(_.toSeq).toSet
    assert(routed == exact && routed.nonEmpty)
    // and past the row cap it becomes the cell-bounded semantic path
    val cellPlan = Dedup.embeddingDedup(e, 0.4, exactMaxRows = 10)
      .queryExecution.executedPlan.toString
    assert(!cellPlan.contains("NestedLoop") && !cellPlan.contains("Cartesian"), cellPlan)
  }
}
