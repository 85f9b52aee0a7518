package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Events, Sampling, TextAnalysis}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit covers every doc once with roughly 80/10/10 proportions") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.hashSplit(docs)
    assert(out.count() == docs.count())
    val frac = out.groupBy($"split").count().as[(String, Long)].collect().toMap
      .view.mapValues(_.toDouble / docs.count()).toMap
    assert(frac("train") > 0.6 && frac("train") < 0.95)
    assert(frac.getOrElse("val", 0.0) + frac.getOrElse("test", 0.0) < 0.4)
  }

  test("hashSplit is deterministic across invocations") {
    val docs = Tables.documents(spark, sfDir)
    val a = Sampling.hashSplit(docs).as[(Long, String)].collect().toSet
    val b = Sampling.hashSplit(docs).as[(Long, String)].collect().toSet
    assert(a == b)
  }

  test("stratifiedSample keeps a bounded fraction of every stratum") {
    val docs = Tables.documents(spark, sfDir)
    val totals = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val kept = Sampling.stratifiedSample(docs).groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    kept.foreach { case (lang, n) =>
      assert(n <= totals(lang), s"$lang sampled more than exists")
    }
    val overall = kept.values.sum.toDouble / totals.values.sum
    assert(overall > 0.05 && overall < 0.5, s"overall fraction $overall far from 0.25")
  }
}

class MapReduceJobSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{MapReduceJob, MapReduceOps}

  test("generic wordCountJob matches the declarative wordCount") {
    val docs = Tables.documents(spark, sfDir)
    val generic = MapReduceJob.wordCountJob(docs.select("text").as[String])
      .collect().toMap
    val declarative = MapReduceOps.wordCount(docs)
      .as[(String, Long)].collect().toMap
    assert(generic == declarative)
  }

  test("generic avgByKeyJob matches the declarative avgByKey") {
    val part = Tables.part(spark, sfDir)
    val lines = part
      .select(concat_ws(",", $"p_brand", $"p_retailprice").as("line")).as[String]
    val generic = MapReduceJob.avgByKeyJob(lines).collect().toMap
    val declarative = MapReduceOps.avgByKey(part, "p_brand", "p_retailprice")
      .as[(String, Double)].collect().toMap
    assert(generic.keySet == declarative.keySet)
    generic.foreach { case (k, v) => assert(math.abs(v - declarative(k)) < 1e-9) }
  }

  test("fully-general run supports holistic reducers (max per key)") {
    val lines = Seq("a\t3", "a\t9", "b\t4").toDS()
    val out = MapReduceJob.run(MapReduceJob.numberedLines(lines))(
      (_, l) => { val p = l.split("\t"); Iterator(p(0) -> p(1).toInt) })(
      (_, vs) => vs.max)
      .collect().toMap
    assert(out == Map("a" -> 9, "b" -> 4))
  }
}

class BoilerplateSpec extends SparkSpec {
  import spark.implicits._

  test("boilerplate phrases have doc frequency >= threshold") {
    val out = Dedup.boilerplate(Tables.documents(spark, sfDir), 3, 2)
      .as[(String, Long)].collect()
    assert(out.nonEmpty, "corpus with planted near-dups must share 3-grams")
    assert(out.forall(_._2 >= 2))
  }
}

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("normalize is idempotent and whitespace-insensitive") {
    val base = Seq((1L, "Hello   world"), (2L, "hello world"), (3L, " hello world "))
      .toDF("doc_id", "text")
    val hashes = TextAnalysis.normalize(base)
      .select($"norm_hash").as[String].collect().toSet
    assert(hashes.size == 1, "all three variants normalize to the same content hash")
  }
}

class ArgminSpec extends SparkSpec {
  import spark.implicits._

  test("cheapestPartPerBrand returns the true min per brand") {
    val part = Tables.part(spark, sfDir)
    val out = Analytics.cheapestPartPerBrand(part)
    val expect = part.groupBy($"p_brand").agg(min($"p_retailprice").as("mp"))
      .as[(String, Double)].collect().toMap
    val got = out.select($"p_brand", $"min_price").as[(String, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (b, p) => assert(p == expect(b)) }
    assert(got.map(_._1).toSet == expect.keySet)
  }
}

class DecorrelatedPivotSpec extends SparkSpec {
  import spark.implicits._

  test("smallQuantityOrders yields one summary row with non-negative counts") {
    val out = Analytics.smallQuantityOrders(Tables.lineitem(spark, sfDir)).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_small") >= 0)
  }

  test("eventTypePivot row sums equal per-user event counts") {
    val events = Tables.events(spark, sfDir)
    val out = Analytics.eventTypePivot(events)
    val colSum = Seq("click", "error", "purchase", "signup", "view")
      .map(c => col(c)).reduce(_ + _)
    val fromPivot = out.select(sum(colSum)).as[Long].head()
    assert(fromPivot == events.count())
  }
}

class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  test("maxBucket drops giant dup-cluster buckets but keeps normal pairs") {
    val base = Tables.documents(spark, sfDir)
    // 30 exact copies of one doc → every band bucket for it has ≥30 members
    val clones = (1 to 30).map(i =>
      base.where($"doc_id" === 0).withColumn("doc_id", lit(1000000L + i)))
      .reduce(_ unionAll _)
    val corpus = base.unionAll(clones)
    val uncapped = Dedup.minhashLsh(corpus, 3, 64, 16, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLsh(corpus, 3, 64, 16, 0.5, maxBucket = 20)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
    // the 30-clone cluster's pairs are gone...
    assert(!capped.exists { case (a, b) => a >= 1000000L && b >= 1000000L })
    // ...and so may pairs whose buckets the clones polluted (doc 0's own
    // near-dups) — but pairs fully outside the cluster's reach survive
    val affected = uncapped.collect {
      case (0L, b) => b
      case (a, 0L) => a
    } + 0L
    def clean(p: (Long, Long)) =
      p._1 < 1000000L && p._2 < 1000000L &&
        !affected.contains(p._1) && !affected.contains(p._2)
    assert(uncapped.filter(clean) == capped.filter(clean))
    assert(capped.filter(clean).nonEmpty)
  }
}

class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity

  test("semanticDedup pairs are a subset of exact embedding near-dups") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Dedup.embeddingNearDup(emb, 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sem = Similarity.semanticDedup(emb, 0.3, nCells = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(sem.nonEmpty, "planted near-dup vectors should share a cell")
    assert(sem.subsetOf(exact), "cell-bounded pairs must also pass the exact threshold")
  }

  test("embeddingDedup routes small inputs to the exact path, big inputs away from the full-table broadcast") {
    val emb = Tables.embeddings(spark, sfDir)
    // small path: identical results to the exact quadratic baseline
    val small = Dedup.embeddingDedup(emb, 0.4, exactMaxRows = 1000000)
    val exact = Dedup.embeddingNearDup(emb, 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(small.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == exact)
    // big path (threshold forced below the input size): the plan must be
    // the cell-bounded one — joined on cell_id, never an id_a < id_b
    // cross-ish broadcast of the whole embedding table
    val big = Dedup.embeddingDedup(emb, 0.4, exactMaxRows = 10)
    val plan = big.queryExecution.executedPlan.toString
    assert(plan.contains("cell_id"), "scale path must bound pairs to centroid cells")
    val bigPairs = big.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(bigPairs.nonEmpty && bigPairs.subsetOf(exact))
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("purchaseViewsWithin counts only prior views inside the window") {
    val out = Events.purchaseViewsWithin(Tables.events(spark, sfDir), 600)
    val purchases = Tables.events(spark, sfDir).where($"event_type" === "purchase")
    // one output row per distinct (user, purchase timestamp)
    assert(out.count() ==
      purchases.select($"user_id", $"ts").distinct().count())
    assert(out.where($"n_views" < 0).count() == 0)
  }
}

class DriverContractSpec extends SparkSpec {
  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("every declared query carries a DuckDB oracle (no rows-only set)") {
    // adding a query without an oracle should be a DELIBERATE act —
    // and since round 14 there are none: q_sketch, the one documented
    // engine-private exception, now computes from the portable
    // KMV/bottom-k kernels and carries a full value mirror
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"undocumented rows-only queries: $rowsOnly")
  }

  test("every query runs and yields a non-empty result at sf0.001") {
    // the frames come from TestSurface's shared construction (one
    // build of the full surface serves this smoke and the plan audits)
    TestSurface.frames.foreach { case (name, df) =>
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }
}

class ApplyDedupSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents resolves chains the pairwise rule cannot") {
    // A~C and B~C found, A~B missed (a real LSH candidate-set shape):
    // naive drop-greater-id keeps both 1 and 2; transitively they are
    // one cluster and only 1 may survive
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val naive = docs.join(pairs.select($"id_b".as("doc_id")), Seq("doc_id"), "left_anti")
      .as[Long].collect().toSet
    assert(naive == Set(1L, 2L, 9L), "naive rule under-drops here by design")
    val resolved = Dedup.applyDedupKeepBest(docs, pairs, -$"doc_id")
      .as[Long].collect().toSet
    assert(resolved == Set(1L, 9L))
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents converges on long chains and keeps components separate") {
    // one 41-node path (worst case for plain propagation — pointer
    // jumping needs ~log2(41) rounds) + one disjoint triangle
    val chain = (0 until 40).map(i => (i.toLong, i + 1L))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val comp = Dedup.connectedComponents((chain ++ tri).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert((0 to 40).forall(i => comp(i.toLong) == 0L))
    assert((100 to 102).forall(i => comp(i.toLong) == 100L))
  }

  test("CC local union-find path equals the distributed loop exactly") {
    // random-ish pair soup with chains, stars, and singleton pairs
    val pairs = ((0 until 40).map(i => (i.toLong, i + 1L)) ++
      (0 until 30).map(i => (200L, 200L + i)) ++
      Seq((500L, 501L), (600L, 700L), (700L, 650L))).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs) // default: takes the local path
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, localMaxPairs = 0) // force the loop
      .as[(Long, Long)].collect().toMap
    assert(local == dist && local.nonEmpty)
  }
}

class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  test("operators tolerate empty inputs (0 rows, same schema)") {
    val noDocs = Tables.documents(spark, sfDir).limit(0)
    val noEvents = Tables.events(spark, sfDir).limit(0)
    val noEmb = Tables.embeddings(spark, sfDir).limit(0)
    assert(Dedup.exact(noDocs).count() == 0)
    assert(Dedup.minhashLsh(noDocs).count() == 0)
    assert(Dedup.nearDupPipeline(noDocs).count() == 0)
    assert(Dedup.boilerplate(noDocs).count() == 0)
    assert(Dedup.embeddingNearDup(noEmb).count() == 0)
    assert(TextAnalysis.quality(noDocs).count() == 0)
    assert(TextAnalysis.tfidf(noDocs).count() == 0)
    assert(Events.sessionize(noEvents).count() == 0)
    assert(Events.purchaseViewsWithin(noEvents).count() == 0)
    assert(Sampling.hashSplit(noDocs).count() == 0)
    assert(graft.operators.Similarity.bruteForceTopK(noEmb, 5, 10).count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    assert(Dedup.applyDedupKeepBest(noDocs, noPairs, -col("doc_id")).count() == 0)
    assert(Dedup.embeddingDedup(noEmb).count() == 0)
    assert(Sampling.packSequences(noDocs).count() == 0)
    assert(Sampling.shuffleOrder(noDocs).count() == 0)
    assert(TextAnalysis.repetition(noDocs).count() == 0)
    assert(TextAnalysis.redact(noEvents, "event_id", "props").count() == 0)
    assert(Events.resampleHourly(noEvents).count() == 0)
    assert(Analytics.kmvSummary(Tables.lineitem(spark, sfDir).limit(0)).count() == 0)
    assert(Analytics.quantileSketch(Tables.lineitem(spark, sfDir).limit(0)).count() == 0)
    // round-4 operators
    assert(TextAnalysis.importanceWeights(noDocs, col("lang") === "en").count() == 0)
    assert(TextAnalysis.importanceSelect(noDocs, col("lang") === "en").count() == 0)
    assert(graft.operators.Bpe.merges(noDocs, 4).count() == 0)
    assert(graft.operators.Bpe.vocab(noDocs, 4).count() == 0)
    assert(graft.operators.Bpe.encode(noDocs, Seq("a" -> "b")).count() == 0)
  }
}

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed interval join matches the naive range join, without a nested loop") {
    val e = Tables.events(spark, sfDir)
      .select($"event_id", unix_micros($"ts").as("tsu"))
    val iv = e.select(expr("tsu div 3600000000").as("h")).distinct()
      .where(pmod($"h", lit(5)) === 0)
      .select($"h".as("interval_id"),
        ($"h" * 3600000000L).as("start_us"),
        ($"h" * 3600000000L + 1800000000L).as("end_us"))
    val bucketed = Events.intervalJoin(e, iv, 900000000L)
      .select($"event_id", $"interval_id").as[(Long, Long)].collect().toSet
    val naive = e.join(iv, $"tsu" >= $"start_us" && $"tsu" < $"end_us")
      .select($"event_id", $"interval_id").as[(Long, Long)].collect().toSet
    assert(bucketed == naive)
    assert(bucketed.nonEmpty)
    val plan = Events.intervalJoin(e, iv, 900000000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketed interval join must not nested-loop:\n$plan")
  }

  test("reversed intervals match nothing, never materializing the descending range") {
    val e = Seq((1L, 1500000000L)).toDF("event_id", "tsu")
    // end 3·10⁹ µs before start: at width 1 the descending cell range
    // would be 3·10⁹ elements, past Spark's array-size limit
    val iv = Seq((7L, 3000000000L, 0L)).toDF("interval_id", "start_us", "end_us")
    assert(Events.intervalJoin(e, iv, 1L).count() == 0)
  }

  test("intervals over negative epochs match the naive range join") {
    // pre-1970 points and intervals straddling 0: `div` truncates toward
    // zero, but points and interval ends share that one monotone cell
    // map, so every contained point still meets its interval
    val e = (-25L to 25L).map(t => (t, t * 7L)).toDF("event_id", "tsu")
    val iv = Seq((1L, -100L, -30L), (2L, -40L, 40L), (3L, -9L, 1L), (4L, 30L, 200L))
      .toDF("interval_id", "start_us", "end_us")
    val bucketed = Events.intervalJoin(e, iv, 10L)
      .select($"event_id", $"interval_id").as[(Long, Long)].collect().toSet
    val naive = e.join(iv, $"tsu" >= $"start_us" && $"tsu" < $"end_us")
      .select($"event_id", $"interval_id").as[(Long, Long)].collect().toSet
    assert(bucketed == naive && bucketed.nonEmpty)
  }
}

class SecondarySortSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.MapReduceOps

  test("secondarySort delivers each partition's rows key-grouped and ordered") {
    val e = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("tsu"))
    val sorted = MapReduceOps.secondarySort(e, "user_id", "tsu")
    val perPartitionOrdered = sorted.as[(Long, Long)]
      .mapPartitions { it =>
        val rows = it.toVector
        Iterator(rows == rows.sortBy(r => (r._1, r._2)))
      }
      .collect()
    assert(perPartitionOrdered.forall(identity))
    // co-partitioned: a user's rows never span two partitions
    val spans = sorted.select($"user_id", spark_partition_id().as("p"))
      .distinct().groupBy($"user_id").count()
    assert(spans.where($"count" > 1).count() == 0)
  }
}
