package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Gopher rule filter + CCNet bucketing: rule semantics on crafted
  * fixtures, map-only plan shape, stream parity for the rules, and the
  * bucketing invariants the oracle can't state (tercile balance, score
  * ordering between buckets). */
class QualityRulesSpec extends SparkSpec {
  import spark.implicits._

  test("gopher rules fire on the violations they name") {
    val docs = Seq(
      // 0: clean doc — passes all five (60 in-range words incl. 2 stopwords)
      (0L, (Seq("the", "a") ++ Seq.fill(58)("word")).mkString(" ")),
      // 1: too short (3 words)
      (1L, "the a word"),
      // 2: symbol-heavy — every 5th token is '#'
      (2L, (Seq("the", "a") ++ Seq.fill(29)("word # word")).mkString(" ")),
      // 3: mean word length too small (single-char words)
      (3L, (Seq("the", "a") ++ Seq.fill(58)("x")).mkString(" ")),
      // 4: numeric tokens — alpha-word fraction too low
      (4L, (Seq("the", "a") ++ Seq.fill(58)("12345")).mkString(" ")),
      // 5: no stopwords
      (5L, Seq.fill(60)("word").mkString(" ")))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, minWords = 50,
        stops = TextAnalysis.EnStopwords)
      .orderBy("doc_id")
      .collect()
      .map(x => (x.getLong(0), x.getBoolean(1), x.getBoolean(2), x.getBoolean(3),
        x.getBoolean(4), x.getBoolean(5), x.getBoolean(6)))
    assert(r(0) == ((0L, true, true, true, true, true, true)))
    assert(!r(1)._2 && !r(1)._7)          // word count
    assert(!r(2)._4 && !r(2)._7)          // symbol ratio
    assert(!r(3)._3 && !r(3)._7)          // mean word length
    assert(!r(4)._5 && !r(4)._7)          // alpha words
    assert(!r(5)._6 && !r(5)._7)          // stopwords
  }

  test("gopher rules are map-only and run unchanged on a stream") {
    val docs = Tables.documents(spark, sfDir)
    val plan = TextAnalysis.gopherRules(docs, stops = TextAnalysis.EnStopwords)
      .opPlanString
    assert(!plan.contains("Exchange"), s"rules must not shuffle:\n$plan")
    val dir = tempDir("graft-gopher-stream").toString
    val src = docs.select($"doc_id", $"text")
    src.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = TextAnalysis.gopherRules(stream, stops = TextAnalysis.EnStopwords)
      .writeStream.format("memory").queryName("gopher_out").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("gopher_out")
    val batch = TextAnalysis.gopherRules(src, stops = TextAnalysis.EnStopwords)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("ccnet buckets are balanced terciles and ordered by score") {
    val docs = Tables.documents(spark, sfDir)
    val b = TextAnalysis.ccnetBuckets(docs)
    // per language: tercile imbalance is bounded by the largest group
    // of tied scores (equal scores must land in one bucket, so the
    // cutoff can overshoot by at most the tie span)
    val maxTie = b.groupBy($"lang", $"lm_score").count()
      .groupBy($"lang").agg(max($"count").as("tie"))
    val sizes = b.groupBy($"lang", $"bucket").count()
      .groupBy($"lang")
      .agg(max($"count").as("mx"), min($"count").as("mn"))
      .join(maxTie, "lang")
      .collect()
    sizes.foreach(r => assert(r.getLong(1) - r.getLong(2) <= r.getLong(3) + 1,
      s"unbalanced terciles for ${r.getString(0)}: $r"))
    // ordering: max(tail) <= min(middle) <= ... per language
    val rng = b.groupBy($"lang", $"bucket")
      .agg(min($"lm_score").as("lo"), max($"lm_score").as("hi"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    rng.keys.map(_._1).toSeq.distinct.foreach { lang =>
      for (Seq(loB, hiB) <- Seq(Seq("tail", "middle"), Seq("middle", "head")))
        for (lo <- rng.get((lang, loB)); hi <- rng.get((lang, hiB)))
          assert(lo._2 <= hi._1, s"$lang: $loB max ${lo._2} > $hiB min ${hi._1}")
    }
  }

  test("calibration card: buckets partition the corpus, every stat in bounds") {
    val docs = Tables.documents(spark, sfDir)
    val card = graft.operators.QualityModel.calibrationCard(docs).collect()
    assert(card.map(_.getLong(1)).sum == docs.count())
    card.foreach { r =>
      val (bucket, n, nPos) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (meanP, emp, gap, brier) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(bucket >= 0 && bucket <= 9)
      assert(nPos >= 0 && nPos <= n)
      // mean prediction lies inside its own decile (bucket 9 owns 1.0)
      assert(meanP >= bucket / 10.0 - 1e-6 &&
        meanP <= (bucket + 1) / 10.0 + 1e-6, r.toString)
      assert(emp >= 0.0 && emp <= 1.0)
      assert(brier >= 0.0 && brier <= 1.0)
      // gap is the |mean - rate| of the same bucket, up to rounding
      assert(math.abs(gap - math.abs(meanP - emp)) <= 2e-6, r.toString)
    }
  }

  test("calibration card: a constant-label corpus is perfectly separable by rate") {
    import spark.implicits._
    // all-garbage corpus (too short for the rule gate): y = 0 everywhere,
    // so every bucket's empirical rate is exactly 0 and Brier = mean(p^2)
    val junk = (1L to 40L).map(i => (i, s"x$i y$i")).toDF("doc_id", "text")
    val card = graft.operators.QualityModel.calibrationCard(junk).collect()
    card.foreach { r =>
      assert(r.getLong(2) == 0L) // n_pos
      assert(r.getDouble(4) == 0.0) // emp_rate
      assert(r.getDouble(5) == r.getDouble(3)) // gap == mean_p when rate is 0
    }
  }

  test("AUC card equals a pure-Scala rank replay and beats chance") {
    val docs = Tables.documents(spark, sfDir)
    val card = graft.operators.QualityModel.aucCard(docs).collect().head
    val (nPos, nNeg, auc) = (card.getLong(0), card.getLong(1), card.getDouble(2))
    assert(nPos + nNeg == docs.count())
    assert(auc >= 0.0 && auc <= 1.0)
    // the trained gate must rank better than a coin flip on its own
    // training labels (same bar the accuracy card clears)
    assert(auc > 0.6, s"auc=$auc")
    // replay: Mann-Whitney with average ranks over the scored rows
    val scored = graft.operators.QualityModel.trainAndScore(docs)
      .select("doc_id", "p_keep").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val labels = graft.operators.QualityModel.features(docs, withId = true)
      .select("doc_id", "y").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val byScore = scored.map { case (id, p) => (p, labels(id)) }.sortBy(_._1)
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < byScore.length) {
      var j = i
      while (j < byScore.length && byScore(j)._1 == byScore(i)._1) j += 1
      ranks(byScore(i)._1) = (i + 1 + j) / 2.0 // average of ranks i+1..j
      i = j
    }
    val n1 = byScore.count(_._2 == 1.0).toDouble
    val n0 = byScore.length - n1
    val rSum = byScore.filter(_._2 == 1.0).map(x => ranks(x._1)).sum
    val expected = math.floor((rSum - n1 * (n1 + 1) / 2.0) / (n1 * n0) * 1e6 + 0.5) / 1e6
    assert(auc == expected, s"auc=$auc expected=$expected")
  }

  test("AUC card: a single-class corpus reports null, not an error") {
    import spark.implicits._
    val junk = (1L to 30L).map(i => (i, s"x$i y$i")).toDF("doc_id", "text")
    val r = graft.operators.QualityModel.aucCard(junk).collect().head
    assert(r.getLong(1) == 30L && r.isNullAt(2)) // all-negative labels
  }

  test("centroid classifier beats chance and its matrix sums to the corpus") {
    val e = Tables.embeddings(spark, sfDir)
    val cm = graft.operators.Similarity.centroidClassify(e)
    val total = cm.agg(sum($"n")).as[Long].head()
    assert(total == e.count())
    val correct = cm.where($"label" === $"pred_label").agg(sum($"n")).as[Long].head()
    val nClasses = e.select($"label").distinct().count()
    assert(correct.toDouble / total > 2.0 / nClasses,
      s"accuracy ${correct.toDouble / total} not better than 2x chance")
  }
}
