package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sampling, TextAnalysis}

class RedactSpec extends SparkSpec {
  import spark.implicits._

  test("redact replaces planted PII with typed tags, specific rules first") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org end"),
      (2L, "server at 10.0.255.3 port"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "version 2 build 17"),
      (5L, "clean text only")).toDF("event_id", "props")
    val out = TextAnalysis.redact(df, "event_id", "props")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("mail <EMAIL> end", 1L))
    assert(out(2L) == ("server at <IP> port", 1L))
    // the phone rule wins over the number rule — digits are not shredded
    assert(out(3L) == ("call <PHONE> now", 1L))
    assert(out(4L) == ("version <NUM> build <NUM>", 2L))
    assert(out(5L) == ("clean text only", 0L))
  }

  test("redaction is map-only: no exchange in the plan") {
    val df = TextAnalysis.redact(Tables.events(spark, sfDir), "event_id", "props")
    assert(!df.opPlanString.contains("Exchange"))
  }
}

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("repetition signals match hand-computed ratios") {
    val df = Seq(
      (1L, "a a a a"),        // 4 tokens, 1 distinct, top word 4/4, top bigram "a a" 3/3
      (2L, "a b c d"),        // all distinct, top word 1/4, each bigram once 1/3
      (3L, "x y x y x")       // 5 tokens, 2 distinct; bigrams: "x y"x2,"y x"x2 → 2/4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df)
      .select($"doc_id", $"n_tokens", $"ttr", $"top_word_frac", $"top_2gram_frac")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 0.25, 1.0, 1.0)))
    assert(out(2L) == ((2L, 4L, 1.0, 0.25, 0.333333)))
    assert(out(3L) == ((3L, 5L, 0.4, 0.6, 0.5)))
  }

  test("boilerplate-heavy doc ranks above varied doc on top_word_frac") {
    val docs = Tables.documents(spark, sfDir)
    val out = TextAnalysis.repetition(docs)
    assert(out.count() == docs.count())
    assert(out.where($"top_word_frac" > 1.0 || $"ttr" > 1.0).count() == 0)
  }
}

class ChunkSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("chunking covers every token with the configured overlap") {
    // 100 tokens, size 64, stride 48 -> chunks [1..64], [49..100]
    val doc = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(doc).orderBy($"chunk_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(r => (r._2, r._3)).toSeq == Seq((0L, 64L), (1L, 52L)))
    // 64 tokens exactly -> one chunk; 10 tokens -> one short chunk
    val small = Seq((1L, (1 to 64).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val outS = TextAnalysis.chunk(small).select($"doc_id", $"n_chunk_tokens")
      .as[(Long, Long)].collect().toMap
    assert(outS == Map(1L -> 64L, 2L -> 10L))
  }

  test("every corpus token lands in a chunk: sums reconcile with overlap") {
    val docs = Tables.documents(spark, sfDir)
    val per = TextAnalysis.chunk(docs).groupBy($"doc_id")
      .agg(sum($"n_chunk_tokens").as("s"), count(lit(1)).as("nc"),
        max($"chunk_id").as("mx"))
    val n = docs.select($"doc_id",
      size(TextAnalysis.tokens($"text")).cast("long").as("n"))
    // each chunk after the first re-reads exactly `overlap` tokens,
    // except a truncated tail reads fewer — so s - n <= 16*(nc-1), and
    // chunk ids are dense 0..nc-1
    val j = per.join(n, "doc_id")
    assert(j.where($"mx" =!= $"nc" - 1).count() == 0)
    assert(j.where($"s" < $"n" || $"s" > $"n" + ($"nc" - 1) * 16).count() == 0)
  }
}

class DedupAgainstSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  test("cross-set pairs + within-set pairs partition the full pair set") {
    val docs = Tables.documents(spark, sfDir)
    val even = docs.where($"doc_id" % 2 === 0)
    val odd = docs.where($"doc_id" % 2 === 1)
    def pairSet(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(least(col(a), col(b)), greatest(col(a), col(b)))
        .as[(Long, Long)].collect().toSet
    val full = pairSet(Dedup.minhashLsh(docs), "id_a", "id_b")
    val cross = pairSet(Dedup.dedupAgainst(even, odd), "corpus_id", "new_id")
    val within = pairSet(Dedup.minhashLsh(even), "id_a", "id_b") ++
      pairSet(Dedup.minhashLsh(odd), "id_a", "id_b")
    assert(cross.nonEmpty, "no cross-set near-dups in this corpus — vacuous test")
    assert((cross ++ within) == full)
    assert(cross.intersect(within).isEmpty)
  }

  test("maxBucket caps hot buckets on BOTH sides of a cross-set dedup") {
    // a dup cluster concentrated in the NEW batch: every new-side band
    // bucket holds 50 rows. With maxBucket=10 the cap must drop them
    // (previously only the corpus side was capped → 50 candidates
    // slipped through); uncapped, all 50 exact-dup pairs surface.
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((0L, text)).toDF("doc_id", "text")
    val batch = (1L to 50L).map(i => (i, text)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainst(corpus, batch, maxBucket = 10).count() == 0)
    assert(Dedup.dedupAgainst(corpus, batch).count() == 50)
  }

  test("probing a prebuilt signature index equals the monolithic cross-set dedup") {
    val docs = Tables.documents(spark, sfDir)
    val even = docs.where($"doc_id" % 2 === 0)
    val odd = docs.where($"doc_id" % 2 === 1)
    val index = Dedup.buildMinhashIndex(even)
    val viaIndex = Dedup.dedupAgainstIndexSigned(index, Dedup.buildMinhashIndex(odd))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val monolithic = Dedup.dedupAgainst(even, odd)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(viaIndex == monolithic && viaIndex.nonEmpty)
  }
}

class WeightedSampleSpec extends SparkSpec {
  import spark.implicits._

  test("inclusion rate grows with weight and is partition-invariant") {
    val docs = Tables.documents(spark, sfDir)
    val kept = Sampling.weightedSample(docs, "n_chars")
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    // partition invariance
    val again = Sampling.weightedSample(docs.repartition(7), "n_chars")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptIds == again)
    // rate in the top length quartile must beat the bottom quartile
    val q = docs.stat.approxQuantile("n_chars", Array(0.25, 0.75), 0.0)
    val lo = docs.where($"n_chars" <= q(0))
    val hi = docs.where($"n_chars" >= q(1))
    def rate(df: org.apache.spark.sql.DataFrame) =
      df.where($"doc_id".isin(keptIds.toSeq: _*)).count().toDouble / df.count()
    assert(rate(hi) > rate(lo), s"hi=${rate(hi)} lo=${rate(lo)}")
    // the max-weight rows are always kept (p = 1)
    val mx = docs.agg(max($"n_chars")).as[Long].head()
    assert(docs.where($"n_chars" === mx).select($"doc_id").as[Long]
      .collect().forall(keptIds.contains))
  }
}

class PackSpec extends SparkSpec {
  import spark.implicits._

  test("distributed prefix-sum equals the single-window formulation") {
    val docs = Tables.documents(spark, sfDir)
    val got = Sampling.packSequences(docs, budget = 256)
      .select($"doc_id", $"n_tokens", $"global_start", $"seq_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // naive reference: global cumsum in (h, doc_id) order, computed driver-side
    val h = conv(substring(md5(concat($"doc_id".cast("string"), lit(":pack"))), 1, 15), 16, 10)
      .cast("long")
    val rows = docs
      .select($"doc_id", size(TextAnalysis.tokens($"text")).cast("long").as("n"), h.as("h"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._1))
    var off = 0L
    val want = rows.map { case (id, n, _) =>
      val start = off; off += n; (id, n, start, start / 256)
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("packing covers the token stream with no gaps or overlaps") {
    val out = Sampling.packSequences(Tables.documents(spark, sfDir), budget = 512)
    val rows = out.select($"global_start", $"n_tokens").as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.head._1 == 0L)
    rows.sliding(2).foreach {
      case Array((s1, n1), (s2, _)) => assert(s1 + n1 == s2)
      case _ =>
    }
  }

  test("shuffleOrder emits a dense 0-based permutation with full shards") {
    val out = Sampling.shuffleOrder(Tables.documents(spark, sfDir), shardSize = 64)
    val pos = out.select($"pos").as[Long].collect().sorted
    assert(pos.toSeq == pos.indices.map(_.toLong))
    val shardSizes = out.groupBy($"shard").count()
      .orderBy($"shard").select($"count").as[Long].collect()
    assert(shardSizes.init.forall(_ == 64L))
  }

  test("shardManifest shards are contiguous slices that tile the corpus exactly") {
    val docs = Tables.documents(spark, sfDir)
    val m = Sampling.shardManifest(docs, shardSize = 64).collect()
    // contiguity: each shard covers exactly [pos_lo, pos_hi] with no holes
    m.foreach { r =>
      assert(r.getAs[Long]("pos_hi") - r.getAs[Long]("pos_lo") + 1 ==
        r.getAs[Long]("n_docs"))
    }
    // the shards tile [0, N): totals add up, ranges don't overlap
    val n = docs.count()
    assert(m.map(_.getAs[Long]("n_docs")).sum == n)
    val ranges = m.map(r => (r.getAs[Long]("pos_lo"), r.getAs[Long]("pos_hi")))
      .sortBy(_._1)
    assert(ranges.head._1 == 0L && ranges.last._2 == n - 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(lo == hi + 1)
      case _ => () }
    // token totals match a direct corpus sum
    val tok = docs.select(sum(size(graft.operators.TextAnalysis.tokens($"text"))
      .cast("long"))).as[Long].head()
    assert(m.map(_.getAs[Long]("n_tokens")).sum == tok)
  }

  test("the corpus-side window is bucket-partitioned, not single-partition") {
    val out = Sampling.packSequences(Tables.documents(spark, sfDir))
    val plan = out.queryExecution.optimizedPlan.toString
    // every Window over the corpus must carry a partition spec on b;
    // the only unpartitioned window is the <=128-row bucket-offset cumsum
    val windows = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windows.nonEmpty)
    val unpartitioned = windows.filterNot(_.split(",").exists(_.trim.startsWith("b#")))
    assert(unpartitioned.size <= 1,
      s"expected at most the bucket-offset window unpartitioned, got: $unpartitioned")
  }
}
