package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Events, QualityModel, Sampling}

/** Hand-computed fixtures for the round-9 additions: the trainable
  * quality model (t_quality_model / t_quality_scores), last-touch
  * attribution (e_attribution), and the token-budget fill
  * (p_token_budget). Each fixture recomputes the expected result with
  * PLAIN SCALA arithmetic (no Column DSL), so a bug in the operator
  * can't hide in a shared formula.
  */
class Round9OpsSpec extends SparkSpec {

  // ------------------------------------------------------- quality model

  /** Pure-Scala replica of the training recipe: rational sigmoid,
    * nano-unit fixed-point gradient sums, lr 0.5 — independent of the
    * Column implementation. */
  private def referenceTrain(
      feats: Seq[(Double, Double, Double, Double)], iters: Int): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 0 until iters) {
      val g = Array.fill(4)(0L)
      for ((y, x1, x2, x3) <- feats) {
        val z = w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val xs = Array(1.0, x1, x2, x3)
        for (j <- 0 until 4)
          g(j) += math.floor(((p - y) * xs(j)) * 1.0e9 + 0.5).toLong
      }
      w = Array.tabulate(4)(j =>
        w(j) - 0.5 * (g(j).toDouble / 1.0e9 / feats.size.toDouble))
    }
    w
  }

  // two gopher-passing docs (≥50 words, clean shape, ≥2 distinct
  // stopwords) and two failing ones (too short) — labels known by
  // construction, hardcoded below rather than derived
  private val fixtureDocs = Seq(
    (1L, ("the of" + " word" * 58).trim, 1.0),
    (2L, ("it is" + " data" * 55).trim, 1.0),
    (3L, "short doc", 0.0),
    (4L, "tiny", 0.0))

  private def fixtureFeatures: Seq[(Double, Double, Double, Double)] =
    fixtureDocs.map { case (_, text, y) =>
      val tk = text.split("\\s+").filter(_.nonEmpty)
      val stop = Set("the", "a", "of", "and", "to", "is", "in", "that", "it", "as")
      val nw = tk.length
      val sh = tk.count(stop.contains)
      val na = text.count(c => c >= 'a' && c <= 'z')
      val nc = text.length
      (y, nw.toDouble / 100.0,
        sh.toDouble / math.max(nw, 1).toDouble,
        na.toDouble / math.max(nc, 1).toDouble)
    }

  test("trainCard matches the pure-Scala reference on a hand fixture") {
    import spark.implicits._
    val docs = fixtureDocs.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val w = referenceTrain(fixtureFeatures, 3)
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = QualityModel.trainCard(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("bias") == r6(w(0)))
    assert(got("w_words") == r6(w(1)))
    assert(got("w_stop") == r6(w(2)))
    assert(got("w_alpha") == r6(w(3)))
    assert(got("n_docs") == 4.0)
    // word count separates the fixture cleanly within 3 steps
    assert(got("acc") == 1.0)
  }

  test("trainAndScore ranks the rule-passing docs above the failing ones") {
    import spark.implicits._
    val docs = fixtureDocs.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val scores = QualityModel.trainAndScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.size == 4)
    assert(math.min(scores(1L), scores(2L)) > math.max(scores(3L), scores(4L)))
    // and the probabilities match the reference weights' sigmoid
    val w = referenceTrain(fixtureFeatures, 3)
    val expected = fixtureFeatures.map { case (_, x1, x2, x3) =>
      val z = w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3
      math.floor((0.5 + z / (2.0 * (1.0 + math.abs(z)))) * 1e6 + 0.5) / 1e6
    }
    assert(Seq(scores(1L), scores(2L), scores(3L), scores(4L)) == expected)
  }

  test("trainCard distills the gopher gate better than the majority class") {
    val docs = Tables.documents(spark, sfDir)
    val got = QualityModel.trainCard(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // gopher-pass is 234/500 at sf0.01 → majority class = 0.532; the
    // distilled model measured 0.846 (pre-computed replica) — gate at
    // a conservative 0.7 so the assert survives testdata regeneration
    assert(got("acc") > 0.7, s"distillation no better than majority: ${got("acc")}")
    assert(got("n_docs") == 500.0)
  }

  test("streaming quality gate emits exactly the batch filter's multiset") {
    val docs = Tables.documents(spark, sfDir)
    val batch = QualityModel.trainAndScore(docs)
      .where(org.apache.spark.sql.functions.col("p_keep") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val streamed = streaming.DocStream.qualityGateReplay(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("chained top-k replay is trigger-granularity invariant and equals batch") {
    import org.apache.spark.sql.expressions.Window
    val batch = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("hr"))
        .orderBy(col("cnt").desc, col("event_type"))))
      .where(col("rnk") <= 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sorted.toSeq
    def streamed(mfpt: Int) =
      streaming.EventStream.topHourlyReplay(spark, sfDir, maxFilesPerTrigger = mfpt)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
        .sorted.toSeq
    // only stage 2's trigger width varies here (stage 1 is fixed at 8
    // files): one file per stage-2 trigger, the old 2-file width, and
    // the shipped default (4) must all equal the batch rank — the
    // handoff's ordering contract at any stage-2 granularity
    assert(streamed(1) == batch)
    assert(streamed(2) == batch)
    assert(streamed(4) == batch)
  }

  test("hourlyTopK state survives a checkpointed restart mid-stream") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val counts = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val (mn, mx) = counts.agg(min(unix_micros(col("hour_start"))),
      max(unix_micros(col("hour_start")))).as[(Long, Long)].head()
    val cutUs = mn + (mx - mn) * 6 / 10
    val root = tempDir("graft-topk-restart")
    val (srcDir, out, ckpt) =
      (s"$root/src", s"$root/out", s"$root/ckpt")
    // the first 60% of hours arrive, one ordered file
    counts.where(unix_micros(col("hour_start")) <= cutUs)
      .coalesce(1).write.mode("append").parquet(srcDir)
    def start() = spark.readStream.schema(counts.schema).parquet(srcDir)
      .transform(df => streaming.EventStream.hourlyTopK(df, 3).toDF())
      .writeStream.format("parquet").option("checkpointLocation", ckpt)
      .outputMode("append").start(out)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val emittedEarly = spark.read.parquet(out).count()
    // hours near the first batch's watermark are still IN STATE here —
    // the restart must recover them from the state store, not the input
    assert(emittedEarly > 0)
    // the rest of the hours + the watermark pusher land while DOWN
    val sentUs = (mx / 3600000000L + 6L) * 3600000000L
    counts.where(unix_micros(col("hour_start")) > cutUs)
      .unionByName(Seq((new java.sql.Timestamp(sentUs / 1000L), "view", 0L))
        .toDF("hour_start", "event_type", "cnt"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .where(col("hr") <= mx / 3600000000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sorted.toSeq
    assert(emittedEarly < got.length, "nothing crossed the restart in state")
    val want = counts
      .withColumn("hr", expr("unix_micros(hour_start) div 3600000000"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hr"))
          .orderBy(col("cnt").desc, col("event_type"))))
      .where(col("rnk") <= 3)
      .select(col("hr"), col("event_type"), col("cnt"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sorted.toSeq
    assert(got == want, "restarted stream diverged from the batch rank")
  }

  // --------------------------------------------------------- attribution

  test("attributionCard: last touch wins, window bounds honored, by hand") {
    import spark.implicits._
    val base = 1700000000000000L // µs
    val day = 86400000000L
    val ev = Seq(
      // user 1: click then view then purchase → view (latest touch)
      (101L, base, 1L, "click", 0.0),
      (102L, base + 1000L, 1L, "view", 0.0),
      (103L, base + 2000L, 1L, "purchase", 10.0),
      // user 2: click 1h before purchase → click
      (201L, base, 2L, "click", 0.0),
      (202L, base + 3600000000L, 2L, "purchase", 20.0),
      // user 3: touch 8 days before purchase → outside lookback → none
      (301L, base, 3L, "view", 0.0),
      (302L, base + 8 * day, 3L, "purchase", 40.0),
      // user 4: purchase with no touch at all → none
      (401L, base, 4L, "purchase", 80.0),
      // user 5: click and view in the SAME µs, purchase later →
      // higher packed code (view) wins deterministically
      (501L, base, 5L, "click", 0.0),
      (502L, base, 5L, "view", 0.0),
      (503L, base + 1000L, 5L, "purchase", 160.0),
      // user 6: touch in the same µs as the purchase → attributed
      // (touch sorts before the purchase by the is_p tie-break)
      (601L, base, 6L, "click", 0.0),
      (602L, base, 6L, "purchase", 320.0))
      .toDF("event_id", "tsu", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("tsu"))).drop("tsu")
    val got = Events.attributionCard(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("click", 2L, 340.0), // users 2 and 6
      ("none", 2L, 120.0),  // users 3 and 4
      ("view", 2L, 170.0))) // users 1 and 5
  }

  test("attributionCard: empty input yields an empty card") {
    import spark.implicits._
    val ev = Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("event_id", "tsu", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("tsu"))).drop("tsu")
    assert(Events.attributionCard(ev).count() == 0)
  }

  test("quality model: empty corpus yields the zero model, not a crash") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val card = QualityModel.trainCard(docs).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    assert(card("bias") == 0.0 && card("w_words") == 0.0)
    assert(card("n_docs") == 0.0)
    assert(card("acc") == null) // 0/0 accuracy is undefined, stated as null
    assert(QualityModel.trainAndScore(docs).count() == 0)
  }

  test("mmrRerank: empty embeddings select nothing") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(operators.Similarity.mmrRerank(emb).count() == 0)
  }

  // ----------------------------------------------------------------- mmr

  /** Pure-Scala MMR replica: float→double casts, dot/(‖a‖·‖b‖) cosine,
    * 6-decimal floors before every argmax, neighbor-id tie-breaks. */
  private def referenceMmr(vecs: Map[Long, Array[Float]], queryId: Long,
      kCand: Int, kOut: Int): Seq[(Long, Long, Double, Int)] = {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val q = vecs(queryId)
    val cand = vecs.keys.filter(_ != queryId).toSeq
      .map(id => id -> cos(q, vecs(id)))
      .sortBy { case (id, c) => (-c, id) }.take(kCand)
      .map { case (id, c) => id -> r6(c) }.toMap
    var selected = Vector.empty[(Long, Long, Double, Int)]
    for (step <- 1 to kOut) {
      val scored = cand.filterNot { case (id, _) =>
        selected.exists(_._2 == id) }.toSeq.map { case (id, rel) =>
        val maxsim =
          if (selected.isEmpty) None
          else Some(selected.map(s => r6(cos(vecs(id), vecs(s._2)))).max)
        val score = maxsim match {
          case None => r6(0.7 * rel)
          case Some(ms) => r6(0.7 * rel - 0.3 * ms)
        }
        (id, score)
      }
      val (id, score) = scored.minBy { case (i, s) => (-s, i) }
      selected :+= ((queryId, id, score, step))
    }
    selected
  }

  test("mmrRerank: diversity displaces the redundant near-duplicate") {
    import spark.implicits._
    // id 1 and id 2 are near-identical and both closest to the query;
    // id 3 is equally relevant but diverse. Relevance-only top-2 is
    // {2, 1}; MMR must hand slot 2 to the diverse candidate instead.
    val vecs = Map[Long, Array[Float]](
      0L -> Array(1f, 0f, 0f),
      1L -> Array(0.9f, 0.1f, 0f),
      2L -> Array(0.9f, 0.0999f, 0.001f),
      3L -> Array(0.9f, 0f, 0.1f))
    val emb = vecs.toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
    val got = operators.Similarity.mmrRerank(emb, maxQueryId = 1, kCand = 3, kOut = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._4)
    val want = referenceMmr(vecs, 0L, kCand = 3, kOut = 2)
    assert(got.toSeq == want)
    // the semantic claim, independent of the replica: the second pick
    // is the diverse candidate, not the near-duplicate
    assert(got(1)._2 == 3L)
  }

  test("mmrRerank on the corpus: 5 distinct picks per query from the top-10") {
    val cand = operators.Similarity
      .bruteForceTopK(Tables.embeddings(spark, sfDir), 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = operators.Similarity.mmrRerank(Tables.embeddings(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == 25) // 5 queries × 5 picks
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length == 5, s"repeated pick for query $q")
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    }
    // every pick came from the candidate set — the rerank never
    // invents a neighbor
    assert(got.forall { case (q, n, _, _) => cand((q, n)) })
  }

  test("mmrRerankIvf: the scale path picks only from the IVF candidates") {
    val emb = Tables.embeddings(spark, sfDir)
    val cand = operators.Similarity.ivfAnn(emb, 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = operators.Similarity.mmrRerankIvf(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.length == 25)
    assert(got.forall { case (q, n, _) => cand((q, n)) })
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length == 5, s"repeated pick for query $q")
    }
  }

  // --------------------------------------------------------------- ttest

  test("welchTTest matches a pure-Scala Welch computation by hand") {
    import spark.implicits._
    // groups in cents: a = {100, 200, 300}, b = {400, 400, 700, 900}
    val ev = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 4.0, 7.0, 9.0).map(("b", _)))
      .toDF("event_type", "value")
    def welch(xs: Seq[Long], ys: Seq[Long]) = {
      def m(v: Seq[Long]) = v.sum.toDouble / v.size.toDouble
      def s2(v: Seq[Long]) = {
        val n = v.size.toLong
        (n * v.map(x => x * x).sum - v.sum * v.sum).toDouble /
          (n * (n - 1)).toDouble
      }
      val (sea, seb) = (s2(xs) / xs.size.toDouble, s2(ys) / ys.size.toDouble)
      val se = sea + seb
      val t = (m(xs) - m(ys)) / math.sqrt(se)
      val df = se * se /
        (sea * sea / (xs.size - 1).toDouble + seb * seb / (ys.size - 1).toDouble)
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      (r6(t), r6(df), r6(m(xs) / 100.0), r6(m(ys) / 100.0))
    }
    val (t, df, ma, mb) = welch(Seq(100L, 200L, 300L), Seq(400L, 400L, 700L, 900L))
    val got = Analytics.welchTTest(ev).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ==
      ("a", "b", 3L, 4L))
    assert((r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)) ==
      (ma, mb, t, df))
  }

  test("welchTTest: singleton and zero-variance groups report NULL, not errors") {
    import spark.implicits._
    val ev = Seq(("a", 1.0), ("b", 2.0), ("b", 2.0),
      ("c", 3.0), ("c", 3.0)).toDF("event_type", "value")
    val got = Analytics.welchTTest(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.get(6))).toMap
    assert(got.size == 3)
    assert(got(("a", "b")) == null) // n_a = 1: no variance to estimate
    assert(got(("b", "c")) == null) // both variances 0: se = 0
  }

  test("anovaCard matches a pure-Scala one-way ANOVA by hand") {
    import spark.implicits._
    val groups = Map(
      "a" -> Seq(100L, 200L, 300L),
      "b" -> Seq(400L, 400L, 700L, 900L),
      "c" -> Seq(50L, 60L))
    val ev = groups.toSeq.flatMap { case (t, vs) =>
      vs.map(v => (t, v.toDouble / 100.0)) }.toDF("event_type", "value")
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // replica: micro-unit t6 per group, then the double shapes
    val t6 = groups.values.map(vs =>
      math.floor((vs.sum.toDouble * vs.sum.toDouble) / vs.size.toDouble
        * 1e6 + 0.5).toLong).sum
    val (k, nn) = (groups.size.toLong, groups.values.map(_.size).sum.toLong)
    val st = groups.values.map(_.sum).sum
    val qt = groups.values.flatten.map(v => v * v).sum
    val ssb = t6.toDouble / 1e6 - (st.toDouble * st.toDouble) / nn.toDouble
    val ssw = qt.toDouble - t6.toDouble / 1e6
    val f = (ssb / (k - 1).toDouble) / (ssw / (nn - k).toDouble)
    val r = Analytics.anovaCard(ev).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (k, nn))
    assert(r.getDouble(2) == r6(ssb) && r.getDouble(3) == r6(ssw))
    assert(r.getDouble(4) == r6(f))
    assert(r.getDouble(5) == r6(ssb / (ssb + ssw)))
  }

  test("anovaCard: degenerate inputs report NULL F") {
    import spark.implicits._
    // one group only → k < 2
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("event_type", "value")
    assert(Analytics.anovaCard(one).collect()(0).get(4) == null)
    // every group constant → zero within-variance
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("event_type", "value")
    assert(Analytics.anovaCard(const).collect()(0).get(4) == null)
  }

  // ------------------------------------------------------------ survival

  test("kaplanMeier matches a pure-Scala KM with censoring by hand") {
    import spark.implicits._
    // cust 1: orders day 0, 2, 5 → event gaps {2, 3}, censored at
    // horizon(10)−5 = 5; cust 2: day 0, 3 → event gap {3}, censored 7;
    // cust 3: single order day 10 (THE horizon) → censored 0
    val day = 86400000000L
    val orders = Seq(
      (1L, 11L, 0L), (1L, 12L, 2L), (1L, 13L, 5L),
      (2L, 21L, 0L), (2L, 22L, 3L),
      (3L, 31L, 10L))
      .toDF("o_custkey", "o_orderkey", "dday")
      .withColumn("o_orderdate", timestamp_micros(col("dday") * day))
      .drop("dday")
    // durations: events {2,3,3}, censored {5,7,0}
    // risk sets (≥t): t=2 → n=5 (0-censored already gone at t=0? no:
    // n_t counts duration ≥ t: {2,3,3,5,7} → 5), d=1 → S=0.8
    // t=3 → n=4 ({3,3,5,7}), d=2 → S=0.8·(1−2/4)=0.4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def fx(x: Double) = math.floor(x * 1e12 + 0.5).toLong
    val s2 = r6(math.exp(fx(math.log(1.0 - 1.0 / 5.0)).toDouble / 1e12))
    val s3 = r6(math.exp((fx(math.log(1.0 - 1.0 / 5.0))
      + fx(math.log(1.0 - 2.0 / 4.0))).toDouble / 1e12))
    val got = Analytics.kaplanMeier(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((2L, 5L, 1L, s2), (3L, 4L, 2L, s3)))
  }

  test("kaplanMeier: a step that exhausts the risk set zeroes the curve") {
    import spark.implicits._
    val day = 86400000000L
    // both customers: single gap of 4 days, last orders AT the horizon
    // → censored durations are 0, so at t=4 the whole risk set dies
    val orders = Seq(
      (1L, 11L, 0L), (1L, 12L, 4L),
      (2L, 21L, 0L), (2L, 22L, 4L))
      .toDF("o_custkey", "o_orderkey", "dday")
      .withColumn("o_orderdate", timestamp_micros(col("dday") * day))
      .drop("dday")
    val got = Analytics.kaplanMeier(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((4L, 2L, 2L, 0.0)))
  }

  // -------------------------------------------------------- token budget

  test("tokenBudget keeps the best-first prefix, cut exactly at the budget") {
    import spark.implicits._
    // quality is driven by the stopword ratio here. Hand-ranked: doc 2
    // beats doc 1 on the avg-word-len term (10/4/10 = 0.25 vs
    // 12/5/10 = 0.24), both far above the stopword-free docs 3/4; the
    // budget 9 fits exactly docs {2 (4 tokens), 1 (5 tokens)} and the
    // next-ranked doc would overflow → strict prefix cut
    val docs = Seq(
      (1L, "the and of is to", "en"),        // 5 tokens, all stopwords
      (2L, "the and of is", "en"),           // 4 tokens, all stopwords
      (3L, "zz yy xx ww vv uu", "en"),       // 6 tokens, no stopwords
      (4L, "qq rr ss tt", "en"))             // 4 tokens, no stopwords
      .toDF("doc_id", "text", "lang")
    val got = Sampling.tokenBudget(docs, budget = 9L).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 5, 9L), (2L, 4, 4L)))
  }

  test("tokenBudget ties break by doc_id and the cut is a strict prefix") {
    import spark.implicits._
    // identical texts → identical quality → key falls back to doc_id;
    // budget 6 fits exactly two of the three 3-token docs
    val docs = Seq(
      (30L, "aa bb cc", "en"),
      (10L, "aa bb cc", "en"),
      (20L, "aa bb cc", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Sampling.tokenBudget(docs, budget = 6L).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._2)
    assert(got.toSeq == Seq((10L, 3L), (20L, 6L)))
  }

  test("tokenBudget: empty corpus selects nothing") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(Sampling.tokenBudget(docs).count() == 0)
  }
}
