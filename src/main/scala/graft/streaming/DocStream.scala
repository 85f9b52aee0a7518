package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the DOCUMENT ingest path: checkpointed
  * multi-file replays of the document table ([[Replay.docSource]]) that
  * drive a batch-trained quality gate and keep the inverted text index
  * fresh, each oracle-checked against the batch result it must equal.
  */
object DocStream {

  /** ORACLE-VISIBLE streaming replay of the TRAINED quality gate —
    * the train-batch → deploy-stream split of model-based filtering:
    * weights come from the batch corpus ([[graft.operators.QualityModel
    * .train]], 3 GD steps, driver-side bounded loop), then every
    * arriving document is scored by the map-only rational-sigmoid
    * scorer and kept at p ≥ 0.5. The gate is STATELESS (a projection +
    * filter: no watermark, no state store, append mode trivially
    * correct), so the emitted multiset equals the batch filter exactly
    * — which the oracle replays with the same unrolled-GD SQL as
    * t_quality_scores plus the threshold. The checkpointed multi-file
    * source makes it a REAL multi-trigger run, not a single-batch
    * formality. */
  def qualityGateReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.QualityModel
    val docs = graft.Tables.documents(spark, sfDir)
    val w = QualityModel.train(QualityModel.features(docs).persist(), 3)
    Replay.run(spark, Replay.docSource(spark, sfDir), maxFilesPerTrigger = 2) { stream =>
      QualityModel.score(stream, w).where(col("p_keep") >= 0.5)
    }
  }

  /** STREAMING INDEX maintenance (17th real checkpointed replay): the
    * inverted text index kept fresh from the document stream. The base
    * index is built EMPTY and every document arrives as stream data —
    * each microbatch upserts as a committed segment
    * ([[graft.sources.Catalog.upsertTextIndex]]: O(batch) tokenize,
    * a replayed batch id is a no-op), the corpus stats fold
    * losslessly, so the post-run search EQUALS the whole-corpus
    * direct scan — the oracle is literally t_bm25's SQL. The
    * production shape: corpus drops land continuously, retrieval
    * never goes stale, nobody re-tokenizes the corpus. Disjointness
    * holds by construction: a file-source batch is a partition of the
    * corpus, so no doc_id crosses batches. */
  def textIndexMaintenanceReplay(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 2,
      autoMaintainAt: Option[Int] = None): DataFrame = {
    import graft.sources.Catalog
    import graft.operators.TextAnalysis
    val name = autoMaintainAt.fold("text_idx_stream")(_ => "text_idx_automnt")
    val cat = new Catalog(spark, sfDir,
      Some(Catalog.warehouseLayoutRoot(spark, sfDir)))
    cat.dropDerived(name)
    cat.buildTextIndex(name, graft.Tables.documents(spark, sfDir).limit(0))
    Replay.runForeachBatch(spark, Replay.docSource(spark, sfDir), maxFilesPerTrigger) {
      (batch, id) =>
        cat.upsertTextIndex(name, batch, id)
        // AUTO-MAINTAIN: compaction triggered from INSIDE the drive
        // when the committed segment count reaches the threshold —
        // a live index no longer accumulates segments unboundedly
        // waiting for an operator. Safe mid-stream: foreachBatch
        // serializes it with the upserts, and the fold keeps the index's
        // batch-id mark, so a restart's replay stays a no-op.
        autoMaintainAt.foreach(t => cat.maintainOne(name, t): Unit)
    }
    TextAnalysis.bm25Indexed(cat.loadTextIndex(name),
      Seq("data", "join", "scan"))
  }
}
