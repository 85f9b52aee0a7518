package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Events, Sampling, TextAnalysis}
import graft.sources.Catalog

/** Specs for the round-3 surface: funnel/retention, the TPC-H Q4/Q13/Q22
  * shapes, span-level dedup, LM fluency scoring, mixture sampling, and
  * MERGE/upsert.
  */
class FunnelRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("user_id", "event_type", "us")
      .select($"user_id", $"event_type", timestamp_micros($"us").as("ts"))

  test("funnel is strict-sequence: a click before the first view does not count") {
    val e = ev((1L, "click", 100L), (1L, "view", 200L), (1L, "click", 300L),
      (1L, "purchase", 250L), (1L, "purchase", 400L),
      (2L, "click", 10L), (2L, "purchase", 20L)) // user 2 never views
    val rows = Events.funnel(e).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rows.keySet == Set(1L), "only users reaching step 1 appear")
    // first click AFTER the view is 300; the purchase at 250 precedes it
    assert(rows(1L) == ((200L, Some(300L), Some(400L))))
  }

  test("funnel stops where the sequence breaks (null tail)") {
    val e = ev((3L, "view", 100L), (3L, "purchase", 200L)) // no click ever
    val r = Events.funnel(e).collect().head
    assert(r.getLong(1) == 100L && r.isNullAt(2) && r.isNullAt(3))
  }

  test("retention: offset-0 counts every cohort member; totals reconcile") {
    val events = Tables.events(spark, sfDir)
    val out = Events.retention(events)
    val users = events.select($"user_id").distinct().count()
    val zero = out.where($"week_offset" === 0)
      .agg(sum($"n_users")).as[Long].head()
    assert(zero == users, "every user is active in their own cohort week")
    val weekUs = 604800000000L
    val activePairs = events
      .select($"user_id",
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $weekUs)) div $weekUs").as("wk"))
      .distinct().count()
    assert(out.agg(sum($"n_users")).as[Long].head() == activePairs)
  }
}

class TpchShapesSpec extends SparkSpec {
  import spark.implicits._

  test("q4: each order counts once no matter how many late lineitems it has") {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val out = Analytics.latePriorityCounts(orders, li)
    val totalFromQuery = out.agg(sum($"order_count")).as[Long].head()
    val lateOrders = li.join(orders, $"l_orderkey" === $"o_orderkey")
      .where(unix_micros($"l_shipdate".cast("timestamp_ltz")) >
        unix_micros($"o_orderdate".cast("timestamp_ltz")) + 2592000000000L)
      .select($"o_orderkey").distinct().count()
    assert(totalFromQuery == lateOrders && totalFromQuery > 0)
  }

  test("q13: distribution covers every customer, including the zero bucket") {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val out = Analytics.custDist(c, o)
    assert(out.agg(sum($"custdist")).as[Long].head() == c.count())
    val idle = c.join(o.select($"o_custkey".as("c_custkey")), Seq("c_custkey"), "left_anti").count()
    val zeroBucket = out.where($"c_count" === 0).select($"custdist").as[Long].collect()
    assert((if (zeroBucket.isEmpty) 0L else zeroBucket.head) == idle)
  }

  test("q22: lapsed above-average-balance customers, cutoff applied to orders") {
    // avg positive balance = (100+50+100)/3 = 83.33; customer 4 is rich
    // but ordered AFTER the cutoff, customer 1 is rich with only an old
    // order → only customer 1 qualifies
    val c = Seq(
      (1L, 1, 100.0),  // above avg, pre-cutoff order only → qualifies
      (2L, 1, 50.0),   // below avg → out
      (3L, 2, -10.0),  // negative (excluded from the avg) → out
      (4L, 2, 100.0))  // above avg but recent order → out
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val o = Seq((100L, 4L, "2000-06-01 00:00:00"), (101L, 1L, "1995-01-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "d")
      .select($"o_orderkey", $"o_custkey", $"d".cast("timestamp_ntz").as("o_orderdate"))
    val got = Analytics.idleRichCustomers(c, o).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1, 1L, 100.0)))
  }
}

class ExactStatsSpec extends SparkSpec {
  import spark.implicits._

  test("regression slope recovers a planted linear relation exactly") {
    // y = 3x + 10 exactly, in cents-representable values
    val li = (1 to 50).map(i => ("A", i.toDouble, 3.0 * i + 10.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val r = Analytics.regressionByFlag(li).collect().head
    assert(r.getAs[Double]("slope") == 3.0)
    assert(r.getAs[Long]("n") == 50L)
  }

  test("regression moments are repartition-invariant (exact integer sums)") {
    val li = Tables.lineitem(spark, sfDir)
    val a = Analytics.regressionByFlag(li).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val b = Analytics.regressionByFlag(li.repartition(13)).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("anomalies flags exactly the >3-sigma points, no sqrt involved") {
    // 20 values at 10.0 and one at 1000.0: the spike is far beyond 3σ
    val vals = Seq.fill(20)(10.0) :+ 1000.0
    val e = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")
    val out = Events.anomalies(e).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(20L))
    assert(out.head.getDouble(2) == 1000.0)
  }

  test("anomalies: zero-variance users flag nothing") {
    val e = (0 until 10).map(i => (7L, i.toLong, 5.0))
      .toDF("user_id", "event_id", "value")
    assert(Events.anomalies(e).count() == 0)
  }
}

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  test("a verbatim copy is 100% duplicated spans; the original is 0%") {
    val t = (1 to 32).map(i => s"w$i").mkString(" ") // 4 distinct 8-token spans
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((4L, 0L)))
    assert(out(2L) == ((4L, 4L)))
  }

  test("repetition WITHIN a document is caught (first span kept)") {
    val span = (1 to 8).map(i => s"x$i").mkString(" ")
    val docs = Seq((5L, s"$span $span $span")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(docs).collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
  }

  test("span text never rides the exchange — only 60-bit hashes shuffle") {
    val plan = Dedup.spanDedup(Tables.documents(spark, sfDir))
      .queryExecution.optimizedPlan.toString
    // the aggregate/join key is the hash column; the raw token array
    // must be projected away before the first exchange
    assert(!plan.contains("concat_ws") ||
      plan.indexOf("Aggregate") > 0, "sanity: plan built")
    val exchangeCols = Dedup.spanDedup(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!exchangeCols.contains("hashpartitioning(tk"),
      "token arrays must not be a shuffle key")
  }
}

class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("a perfectly predictable document scores 1.0") {
    // x->y and y->x are both certain in this corpus, so every bigram
    // instance scores p=1 and the mean is exactly 1.0
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val r = TextAnalysis.lmScore(docs, minCount = 2).collect().head
    assert(r.getLong(1) == 5L)
    assert(r.getDouble(2) == 1.0)
  }

  test("LM-pruned (rare) bigrams score zero, lowering the doc mean") {
    // doc 2's unique bigrams never reach minCount → all score 0
    val docs = Seq((1L, "a b a b a b"), (2L, "p q r s")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, minCount = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 1.0 && out(2L) == 0.0)
  }
}

class MixtureUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("mixtureSample thresholds nest: a higher rate keeps a superset") {
    val docs = Tables.documents(spark, sfDir)
    def kept(rate: Double) = Sampling
      .mixtureSample(docs, Map.empty, defaultRate = rate)
      .select($"doc_id").as[Long].collect().toSet
    val k25 = kept(0.25); val k50 = kept(0.5); val all = kept(1.0)
    assert(k25.subsetOf(k50) && k50.subsetOf(all))
    assert(all.size == docs.count())
    // the draw is uniform: 25% rate keeps roughly a quarter
    assert(math.abs(k25.size.toDouble / all.size - 0.25) < 0.1)
  }

  test("mixtureSample applies per-source rates independently") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.mixtureSample(docs, Map("src0" -> 0.0), defaultRate = 1.0)
    assert(out.where($"source" === "src0").count() == 0)
    assert(out.count() == docs.where($"source" =!= "src0").count())
  }

  test("upsert: updates win on matched keys, insert on new keys, base passes through") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "source", "n_chars")
    val updates = Seq((2L, "b", 99L), (3L, "c", 30L)).toDF("doc_id", "source", "n_chars")
    val got = Catalog.upsert(base, updates, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, "b", 99L), (3L, "c", 30L)))
  }
}
