package perfbench

import org.apache.spark.sql.Row

import graft.operators.{CorpusPipeline, Dedup, Sampling}

/** `corpus_prep`: one long batch job per iteration — `CorpusPipeline.prepare`
  * over a generated corpus with planted exact and near copies, written to
  * parquet — then the consumers' audits of the corpus it published: each
  * consumer computes `Sampling.shardManifest` over it, the per-shard
  * census the program documents as the check a consumer runs before
  * training. */
object CorpusPrep {
  def run(ctx: Ctx, res: RunResult): Unit = {
    val spark = ctx.spark
    val nDocs = ctx.int("n_docs")
    val nDistinct = ctx.int("n_distinct")
    val nearIds = java.nio.file.Files.readAllLines(ctx.input.resolve("near_ids.txt"))
      .toArray.map(_.toString.trim).filter(_.nonEmpty).map(_.toLong).toSet
    val minAudits = ctx.int("min_requests")
    // near dedup must find nearly every planted near copy (a planted copy
    // keeps Jaccard ~0.8 to its original; the LSH misses such a pair with
    // probability ~2e-4), so a near dedup that drops nothing fails
    val minNearDrops = math.ceil(0.95 * nearIds.size).toInt
    val corpusDir = ctx.input.resolve("corpus").toString

    val shardSize = ctx.int("shard_size")

    /** One pipeline run over `in` into `out`: `prepare`, then the kept
      * input documents with their split written as the release, the shape
      * `CorpusPipeline.publish` gives them. A timed run is checked against
      * the planted truth outside the caller's timing. Returns the seconds
      * it took. */
    def iteration(req: String, in: String, out: String, timed: Boolean): Double = {
      val p0 = System.nanoTime()
      val r = Main.asRequest(spark, req) {
        ctx.tr.span("prepare", "operators", req) {
          val docs = spark.read.parquet(in)
          val r = CorpusPipeline.prepare(docs)
          if (timed && ctx.tr.enabled) {
            // force the stages in pipeline order, so each stage's own cost
            // is measured with its predecessors already materialized
            Seq("quality_lang", "exact_dedup", "near_dedup").foreach { st =>
              val s0 = System.nanoTime()
              val n = ctx.tr.span(s"prep.$st", "operators", req)(r.stages.toMap.apply(st).count())
              ctx.tr.add(s"operators.prep.${st}_s", Main.since(s0))
              ctx.tr.add(s"operators.prep.survivors.$st", n.toDouble)
            }
          }
          val s0 = System.nanoTime()
          ctx.tr.span("prep.write", "sources", req) {
            docs.join(r.corpus.select("doc_id", "split"), "doc_id").write.parquet(out)
          }
          if (timed) ctx.tr.add("operators.prep.write_s", Main.since(s0))
          r
        }
      }
      val secs = Main.since(p0)
      if (timed) {
        // ground truth, outside the timed region
        val exactSurvivors = r.stages.toMap.apply("exact_dedup").count()
        val drops = r.dropSets.toMap.apply("near_drops").collect().map(_.getLong(0)).toSet
        val written = spark.read.parquet(out).count()
        val strays = drops.diff(nearIds)
        val ok = exactSurvivors == nDistinct && strays.isEmpty &&
          drops.size >= minNearDrops && written == exactSurvivors - drops.size
        res.check(req, ok,
          s"exact_survivors=$exactSurvivors expected=$nDistinct near_drops=${drops.size} " +
            s"(at least $minNearDrops) unplanted_drops=${strays.size} written=$written")
        res.attempted += 1
        if (!ok) res.failed += 1
        ctx.tr.add("operators.prep.near_drops", drops.size.toDouble)
      }
      r.release()
      spark.catalog.clearCache()
      secs
    }

    /** A consumer's audit of the release in `out`: its shard manifest,
      * rows in shard order. */
    def audit(out: String): Seq[Row] =
      Sampling.shardManifest(spark.read.parquet(out), shardSize).collect()
        .sortBy(_.getAs[Long]("shard")).toSeq

    // untimed warm-up: one run over the first part file and audits of its
    // release compile every stage of both and let the JIT settle (after a
    // single audit the audits still fell by a third over the window); the
    // full corpus is left to the timed runs
    val w0 = System.nanoTime()
    locally {
      val out = ctx.work.resolve("warmup").toString
      iteration("prep-warmup", s"$corpusDir/part-000.parquet", out, timed = false)
      (0 until ctx.int("warmup_audits")).foreach(_ => audit(out))
      Main.deleteTree(ctx.work.resolve("warmup"))
    }
    res.setup("warmup_s") = Main.since(w0)

    val detach = if (ctx.tr.enabled) Tracing.attach(spark, ctx.tr) else () => ()
    val t0 = System.nanoTime()
    var iter = 0
    var audits = 0
    var workMs = 0.0
    while (iter == 0 || Main.since(t0) < ctx.seconds || audits < minAudits) {
      val out = ctx.work.resolve(s"clean-$iter")
      val secs = iteration(s"prep-$iter", corpusDir, out.toString, timed = true)
      workMs += secs * 1000.0
      res.sample("prepare_s", secs)
      res.sample("docs_per_s", nDocs / secs)
      // the consumers of the release: each audits it with the program's
      // shard manifest before it trains
      val manifests = (0 until ctx.int("audits_per_iter")).map { _ =>
        val req = s"audit-$audits"
        res.attempted += 1
        val q0 = System.nanoTime()
        val rows = Main.asRequest(spark, req) {
          ctx.tr.span("audit", "client", req) {
            ctx.tr.span("shard_manifest", "operators", req)(audit(out.toString))
          }
        }
        val ms = (System.nanoTime() - q0) / 1e6
        res.sample("query_ms", ms)
        workMs += ms
        audits += 1
        req -> rows
      }
      // outside the timed region: every manifest covers the published
      // corpus in contiguous shards, and every consumer saw the same one
      val written = spark.read.parquet(out.toString).count()
      manifests.foreach { case (req, m) =>
        val why = manifestError(m, written, shardSize)
          .orElse(if (m == manifests.head._2) None else Some("differs from the first audit"))
        why.foreach { w =>
          res.failed += 1
          res.check(req, ok = false, w)
        }
      }
      Main.deleteTree(out)
      iter += 1
    }
    val wallMs = Main.since(t0) * 1000.0

    if (ctx.tr.enabled) {
      // a separate signing pass: MinHash signatures into a noop sink
      val s0 = System.nanoTime()
      Main.asRequest(spark, "sign") {
        ctx.tr.span("sign", "functions", "sign") {
          Dedup.buildMinhashIndex(spark.read.parquet(corpusDir))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val signS = Main.since(s0)
      detach()
      res.layers("functions.sign_docs_per_s") = nDocs / signS
      res.layers("functions.sign_cpu_ms") = ctx.tr.counter("req.cpu_ms.sign")
      Seq("quality_lang_s", "exact_dedup_s", "near_dedup_s", "write_s").foreach { k =>
        res.layers(s"operators.prep.$k") = ctx.tr.counter(s"operators.prep.$k") / iter
      }
      Seq("quality_lang", "exact_dedup", "near_dedup").foreach { st =>
        res.layers(s"operators.prep.survivors.$st") =
          ctx.tr.counter(s"operators.prep.survivors.$st") / iter
      }
      res.layers("operators.prep.near_drops") = ctx.tr.counter("operators.prep.near_drops") / iter
      res.layers("client.requests") = audits.toDouble
      Main.execLayers(ctx, res, wallMs + signS * 1000.0, workMs + signS * 1000.0)
      Main.layerTimes(ctx.tr, res, workMs + signS * 1000.0)
    } else detach()
    res.values("requests") = audits.toDouble
    res.values("iterations") = iter.toDouble
    res.values("wall_s") = wallMs / 1000.0
  }

  /** Why manifest `m` (rows in shard order) does not describe a corpus of
    * `docs` documents cut into shards of `shardSize`; None when it does. */
  private def manifestError(m: Seq[Row], docs: Long, shardSize: Int): Option[String] = {
    val shards = ((docs + shardSize - 1) / shardSize).toInt
    def field(r: Row, k: String) = r.getAs[Long](k)
    if (m.size != shards) Some(s"${m.size} shards, expected $shards")
    else if (m.map(field(_, "n_docs")).sum != docs)
      Some(s"${m.map(field(_, "n_docs")).sum} documents, expected $docs")
    else m.zipWithIndex.collectFirst {
      case (r, i) if field(r, "shard") != i || field(r, "pos_lo") != i.toLong * shardSize ||
          field(r, "pos_hi") - field(r, "pos_lo") + 1 != field(r, "n_docs") =>
        s"shard row $i not contiguous: $r"
    }
  }
}
