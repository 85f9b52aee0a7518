package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The native row-local MinHash signer. The load-bearing assertion is
  * bit-identity with the independent aggregate formulation (explode → groupBy → k mins +
  * collect_set) it replaced — same mh columns, same ss set — because
  * every minhash consumer (LSH, incremental dedup, the corpus pipeline)
  * inherits its correctness from that equality.
  */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir).limit(200)

  test("row-local signatures are bit-identical to the aggregate formulation") {
    val k = 16
    val rowSig = Dedup.buildMinhashIndex(docs, 3, k)
    val aggSig = Dedup.aggSignatures(docs, 3, k)
    val mhCols = (0 until k).map(i => col(s"mh$i"))
    // mh columns: exact equality, row for row
    val joined = rowSig.as("r").join(aggSig.as("a"), "doc_id")
    assert(joined.count() == rowSig.count() && rowSig.count() == aggSig.count(),
      "same doc set signed")
    val mhDiff = joined.where(
      (0 until k).map(i => col(s"r.mh$i") =!= col(s"a.mh$i")).reduce(_ || _)).count()
    assert(mhDiff == 0, "every minhash slot identical")
    // ss: same SET (aggregate collect_set order is nondeterministic,
    // the native signer emits sorted — compare sorted)
    val ssDiff = joined.where(
      sort_array(col("r.ss")) =!= sort_array(col("a.ss"))).count()
    assert(ssDiff == 0, "verification shingle sets identical")
  }

  test("signer matches the column-expression hash chain exactly") {
    // independent derivation of mh0/mh1 for one doc via Spark's own
    // xxhash64 column function over exploded shingles
    val d = docs.limit(5)
    val sh = d
      .select(col("doc_id"), operators.TextAnalysis.tokens(col("text")).as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(sequence(lit(1), size(col("w")) - 2)).as("i"),
        col("w"))
      .select(col("doc_id"), xxhash64(concat_ws(" ",
        element_at(col("w"), col("i")), element_at(col("w"), col("i") + 1),
        element_at(col("w"), col("i") + 2))).as("h"))
      .groupBy(col("doc_id"))
      .agg(min(xxhash64(col("h"), lit(0))).as("e0"), min(xxhash64(col("h"), lit(1))).as("e1"))
    val got = Dedup.buildMinhashIndex(d, 3, 2)
    val bad = got.join(sh, "doc_id")
      .where(col("mh0") =!= col("e0") || col("mh1") =!= col("e1")).count()
    assert(bad == 0)
  }

  test("docs shorter than one shingle produce no signature row") {
    val tiny = Seq((1L, "only two"), (2L, "three word doc"), (3L, "")).toDF("doc_id", "text")
    val sig = Dedup.buildMinhashIndex(tiny, 3, 4)
    assert(sig.select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("signing stage plans no exchange (map-only scan shape)") {
    // full table (no limit — a GlobalLimit would add its own exchange)
    val plan = Dedup.buildMinhashIndex(Tables.documents(spark, sfDir), 3, 8)
      .opPlanString
    assert(!plan.contains("Exchange"), s"signature build must not shuffle:\n$plan")
  }

  test("minhashLsh on the row-local signer reproduces the exact-Jaccard pair set") {
    // same oracle shape as the driver gate: verified LSH pairs == exact
    // inverted-index Jaccard pairs at this threshold
    val d = Tables.documents(spark, sfDir)
    val lsh = Dedup.minhashLsh(d, 3, 64, 16, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard(d, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }
}

class SimHashSigSpec extends SparkSpec {
  import spark.implicits._

  test("row-local simhash is bit-identical to the aggregate formulation") {
    val docs = Tables.documents(spark, sfDir)
    val row = Dedup.simhashSignatures(docs)
    val agg = Dedup.aggSimhashSignatures(docs)
    assert(row.count() == agg.count())
    val diff = row.as("r").join(agg.as("a"), "doc_id")
      .where(col("r.simhash") =!= col("a.simhash")).count()
    assert(diff == 0)
  }

  test("per-token hash matches portableHash60 exactly") {
    // single-token docs: fingerprint == the token's portable hash
    val d = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val got = Dedup.simhashSignatures(d)
    val expect = d.select(col("doc_id"),
      operators.TextAnalysis.portableHash60(col("text")).as("simhash"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("empty docs produce no signature row; signing plans no exchange") {
    val d = Seq((1L, ""), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.simhashSignatures(d).select("doc_id").as[Long].collect().toSet == Set(2L))
    val plan = Dedup.simhashSignatures(Tables.documents(spark, sfDir))
      .opPlanString
    assert(!plan.contains("Exchange"), s"simhash signing must not shuffle:\n$plan")
  }
}

class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("native shingle hashes equal the explode+concat_ws formulation (multiset)") {
    val docs = Tables.documents(spark, sfDir)
    val native = Dedup.hashedShingles(docs, 3)
      .groupBy($"doc_id", $"h").count()
    val legacy = docs
      .select($"doc_id", TextAnalysis.tokens($"text").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id", explode(sequence(lit(1), size($"w") - 2)).as("i"), $"w")
      .select($"doc_id", xxhash64(concat_ws(" ",
        element_at($"w", $"i"), element_at($"w", $"i" + 1),
        element_at($"w", $"i" + 2))).as("h"))
      .groupBy($"doc_id", $"h").count()
    assert(native.exceptAll(legacy).isEmpty && legacy.exceptAll(native).isEmpty)
    assert(native.count() > 0)
  }

  test("short docs emit no hashes; scan stage has no pre-explode shuffle") {
    val tiny = Seq((1L, "just two"), (2L, "one two three four")).toDF("doc_id", "text")
    val hs = Dedup.hashedShingles(tiny, 3)
    assert(hs.select("doc_id").as[Long].collect().toSet == Set(2L))
    assert(hs.where($"doc_id" === 2L).count() == 2) // 4 tokens -> 2 trigrams
  }
}

class RepetitionStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("row-local repetition stats equal the aggregate formulation exactly") {
    val docs = Tables.documents(spark, sfDir)
    val row = TextAnalysis.repetition(docs)
    val agg = TextAnalysis.aggRepetition(docs)
    assert(row.count() == agg.count() && row.count() > 0)
    assert(row.exceptAll(agg).isEmpty && agg.exceptAll(row).isEmpty)
  }

  test("edge docs: empty absent, single-token doc has zero bigram frac; map-only plan") {
    val d = Seq((1L, ""), (2L, "word"), (3L, "a a b")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set(2L, 3L))
    assert(out(2L) == ((1L, 1.0, 1.0, 0.0)))
    // doc 3: n=3, d=2 -> ttr=0.666667; top word 'a' 2/3; bigrams: "a a","a b" -> 1/2
    assert(out(3L) == ((3L, 0.666667, 0.666667, 0.5)))
    val plan = TextAnalysis.repetition(Tables.documents(spark, sfDir))
      .opPlanString
    assert(!plan.contains("Exchange"), s"repetition must not shuffle:\n$plan")
  }
}

class PortableHash60Spec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("native hash is bit-identical to conv(substring(md5)) on corpus text + edge strings") {
    val docs = Tables.documents(spark, sfDir)
      .select($"text".as("s"))
      .unionAll(Seq("", " ", "a", "é中文 mixed ☃", "0123456789abcdef").toDF("s"))
    val diff = docs.select(
      TextAnalysis.portableHash60($"s").as("n"),
      TextAnalysis.legacyPortableHash60($"s").as("l"))
      .where($"n" =!= $"l" || $"n".isNull =!= $"l".isNull)
    assert(diff.count() == 0)
  }

  test("null propagates") {
    val out = Seq(Option("x"), None).toDF("s")
      .select(TextAnalysis.portableHash60($"s").as("h"))
      .as[Option[Long]].collect()
    assert(out.count(_.isEmpty) == 1 && out.count(_.nonEmpty) == 1)
  }
}

class AttritionSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.CorpusPipeline

  test("attrition counts are monotone and bracket the pipeline output") {
    val d = Tables.documents(spark, sfDir)
    val corpus = d.where(col("doc_id") >= 20)
    val bench = Some(d.where(col("doc_id") < 20))
    val cfg = CorpusPipeline.Config(minQuality = 0.2)
    val rows = CorpusPipeline.attrition(corpus, bench, cfg)
      .as[(String, Long)].collect().toMap
    val order = Seq("input", "quality_lang", "exact_dedup", "near_dedup", "decontaminated")
    assert(rows.keySet == order.toSet)
    val counts = order.map(rows)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"stage survivors must be monotone non-increasing: $counts")
    assert(counts.head == corpus.count())
    val r = CorpusPipeline.prepare(corpus, bench, cfg)
    try assert(counts.last == r.corpus.count()) finally r.release()
  }
}

class SimHashNullTokenSpec extends SparkSpec {
  import spark.implicits._

  test("null tokens count toward n but contribute no bits (no NPE)") {
    import org.apache.spark.sql.functions.expr
    // array('a', NULL): aggregate path counted the null in n_tok but
    // summed no bits for it
    val got = spark.range(1)
      .select(expr("simhash_sig(array('a', CAST(NULL AS STRING)))").as("fp"))
      .as[Long].head()
    // n=2, only 'a' votes: bit set iff 2*ones > 2 -> ones must be 2 -> none
    assert(got == 0L)
    val single = spark.range(1)
      .select(expr("simhash_sig(array('a'))").as("fp")).as[Long].head()
    assert(single != 0L)
  }
}

class KeepBestSpec extends SparkSpec {
  import spark.implicits._

  test("survivorship keeps the longest doc per cluster, min id on ties; unpaired pass") {
    val docs = Seq(
      (1L, "short", 5L), (2L, "longest doc", 11L), (3L, "mid", 8L), // cluster A
      (4L, "tie", 7L), (5L, "tie2", 7L),                            // cluster B (tied metric)
      (9L, "alone", 99L))                                           // unpaired
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.applyDedupKeepBest(docs, pairs, col("n_chars"))
      .select("doc_id").as[Long].collect().toSet
    // cluster A -> 2 (longest); cluster B -> 4 (tie, smaller id); 9 unpaired
    assert(kept == Set(2L, 4L, 9L))
  }

  test("keep-best with metric=-doc_id degenerates to the min-id policy") {
    val d = Tables.documents(spark, sfDir)
    val pairs = Dedup.ngramJaccard(d, 3, 0.5)
    val best = Dedup.applyDedupKeepBest(d, pairs, -col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    // min-id policy: every paired doc but its component's smallest id drops
    val losers = Dedup.connectedComponents(pairs)
      .where(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val minId = d.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(best == minId)
  }
}

class KmvJoinEstimateSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Analytics

  test("overlap estimates land near truth on a known 50% overlap") {
    // A = 0..1999, B = 1000..2999: |A|=|B|=2000, |A∩B|=1000, J=1/3
    val a = (0L until 2000L).toDF("k")
    val b = (1000L until 3000L).toDF("k")
    val r = Analytics.kmvJoinEstimate(a, "k", b, "k", 256).collect().head
    val (el, er, ej, ei) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(math.abs(el - 2000) / 2000.0 < 0.2, s"est_left $el")
    assert(math.abs(er - 2000) / 2000.0 < 0.2, s"est_right $er")
    assert(math.abs(ej - 1.0 / 3) < 0.1, s"est_jaccard $ej")
    assert(math.abs(ei - 1000) / 1000.0 < 0.3, s"est_intersection $ei")
  }

  test("disjoint sets estimate zero intersection; identical sets estimate J=1") {
    val a = (0L until 500L).toDF("k")
    val b = (10000L until 10500L).toDF("k")
    val r0 = Analytics.kmvJoinEstimate(a, "k", b, "k", 256).collect().head
    assert(r0.getDouble(2) == 0.0 && r0.getDouble(3) == 0.0)
    val r1 = Analytics.kmvJoinEstimate(a, "k", a, "k", 256).collect().head
    assert(r1.getDouble(2) == 1.0)
  }
}

class PrepareIncrementSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{CorpusPipeline, Dedup}

  test("incremental admission equals the monolithic pipeline's batch rows") {
    val d = Tables.documents(spark, sfDir)
    val bench = d.where(col("doc_id") < 20)
    val all = d.where(col("doc_id") >= 20)
    // corpus = older ids, batch = newer ids (the production invariant)
    val cut = 300L
    val corpus = all.where(col("doc_id") < cut)
    val batch = all.where(col("doc_id") >= cut)
    val cfg = CorpusPipeline.Config(minQuality = 0.2)

    // the index covers the FULL pre-dedup corpus (quality-filtered),
    // so chains through corpus-dropped docs are still seen
    val corpusFiltered = CorpusPipeline.signals(corpus)
      .where(col("quality_score") >= cfg.minQuality)
    val index = Dedup.buildMinhashIndex(corpusFiltered,
      cfg.shingleN, cfg.numHashes).persist()

    val inc = CorpusPipeline.prepareIncrement(batch, index, Some(bench), cfg)
    val incIds = inc.corpus.select("doc_id").as[Long].collect().toSet
    inc.release()
    index.unpersist()

    val mono = CorpusPipeline.prepare(all, Some(bench), cfg)
    val monoBatchIds = mono.corpus.select("doc_id").as[Long]
      .collect().toSet.filter(_ >= cut)
    mono.release()

    assert(incIds == monoBatchIds, s"inc-only=${incIds -- monoBatchIds} mono-only=${monoBatchIds -- incIds}")
    assert(incIds.nonEmpty)
  }
}
