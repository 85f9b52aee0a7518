package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage engine facade — the Spark-first re-expression of the
  * reference DFS (reference: dfs/controller/fileIndex.go table index;
  * dfs/client/{uploader,downloader,chunkinator}.go).
  *
  * The reference hand-rolls chunking, replication, and parallel
  * retrieval; on Spark those jobs belong to the storage layer (HDFS/S3
  * replication) and the parquet reader (splittable files, parallel
  * scan). What remains engine-side is the useful surface: a table
  * registry, format-agnostic IO, chunk-size-controlled writes, and
  * cluster-stats-style introspection.
  *
  * Replication factor (the reference's hardcoded 3-way placement,
  * client/chunkinator.go + controller): delegated to the filesystem. A
  * deployment sets it per-cluster via `dfs.replication` in
  * hdfs-site.xml, or per-job with
  * `spark.hadoop.dfs.replication=3` on submit — every write this class
  * does then inherits it; object stores (S3/GCS) replicate internally
  * and ignore it. Nothing engine-side to schedule.
  */
class Catalog(spark: SparkSession, baseDir: String,
    layoutRoot: Option[String] = None) {

  /** Directory this Catalog OWNS for derived layouts — incremental-MV
    * state ([[refreshAggMv]]) and hive-partitioned views
    * ([[partitionedLayout]]). Defaults under the base dir (the storage
    * engine owns its layouts, like the reference controller's
    * persistent file index, dfs/controller/fileIndex.go); pass
    * `layoutRoot` when the base data dir is a read-only mirror and
    * derived state must live elsewhere (e.g. the warehouse dir). */
  val derivedDir: String = layoutRoot.getOrElse(s"$baseDir/_derived")

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Spark's `_SUCCESS` commit marker — the commit of the plain layouts
    * (zone maps and partitioned layouts) that carry no manifest. */
  private def hasSuccess(dir: Path): Boolean =
    dir.getFileSystem(hconf).exists(new Path(dir, "_SUCCESS"))

  // ──────────────────────────────────────────────────────────────────
  // DERIVED STATE. Every family below — the single-table states (the
  // MVs and saveDerived), the ANN and text indexes, SCD2 history, the
  // join MV and the snapshots — commits through ONE protocol
  // ([[StateDir]]): data lands in directories that are written once and
  // never rewritten, and a numbered manifest under `<name>/_manifest`
  // lists each part's schema and live files, the family, its metadata
  // and the high-water mark of applied batch ids. A commit publishes the
  // next manifest atomically and only then deletes what it no longer
  // lists; a read takes the highest manifest and touches only the files
  // it lists.
  //
  // EXACTLY-ONCE is one monotone rule for every family: a batch id at
  // or below the mark is a no-op (Structured Streaming's foreachBatch
  // ids strictly increase, and a restart replays at most the last
  // uncommitted one). A build or save starts with no mark.
  //
  // CONCURRENCY CONTRACT: reads and writes of one name are serialized
  // by the caller (the scheduler that owns the refresh cadence) — two
  // concurrent refreshes would each merge against the same pre-state,
  // and a read racing a commit could list files the commit is about to
  // delete. Distinct names are independent.

  private val Table = "table"
  private val Ann = "ann"
  private val Text = "text"
  private val Scd2 = "scd2"
  private val Join = "join"
  private val Snap = "snapshot"

  private def stateDir(name: String) =
    new StateDir(spark, new Path(s"$derivedDir/$name"))

  /** The committed state `name` of `family`, or an IllegalArgumentException
    * naming `what` — an uncommitted or torn state never serves. */
  private def committed(name: String, family: String,
      what: String): (StateDir, Manifest) = {
    val st = stateDir(name)
    val m = st.latest.filter(_.family == family)
    require(m.isDefined, s"no committed $what: $name")
    (st, m.get)
  }

  /** The shared body of every single-table MV refresh: unless
    * `batchId` is already applied, commit `merge(stored state)` as the
    * state's next version, then return the committed state. The merge
    * plan reads the previous version's files and writes a fresh
    * directory, so it never consumes its own output. */
  private def refreshTable(name: String, batchId: Option[Long])(
      merge: Option[DataFrame] => DataFrame): DataFrame = {
    val st = stateDir(name)
    val prev = st.latest.filter(_.family == Table)
    if (!batchId.exists(id => prev.exists(_.applied(id))))
      st.commit(Manifest(Table, batchId.orElse(prev.flatMap(_.mark)),
        Map("data" -> st.write(merge(prev.map(m => st.read(m.parts("data")))),
          s"data_v${st.next}"))))
    mvState(name)
  }

  /** A committed single-table state (an MV or a [[saveDerived]] table). */
  private def tableState(name: String, what: String): DataFrame = {
    val (st, m) = committed(name, Table, what)
    st.read(m.parts("data"))
  }

  /** Durable incremental aggregate maintenance (materialized-view
    * refresh). Each refresh merges `deltaAgg` into the stored state by
    * re-aggregating their union on `keys` and commits the merged state
    * as the MV's next version, so state accumulates across refreshes
    * and a FRESH session resumes from disk alone: no process-local
    * cache exists. A crash at any step leaves the previous version
    * committed and readable.
    *
    * Correct for exactly the algebraic aggregates (counts, integer
    * sums) whose partial states combine by summation — which is why
    * callers pre-aggregate deltas to (keys, counters) grain. At 100 TB
    * this is the difference between re-scanning the fact table per
    * refresh and touching only the delta: refresh cost is
    * O(|stored keys| + |delta|), independent of history size, and the
    * history itself is never re-read.
    *
    * A caller that passes the engine's microbatch id (foreachBatch
    * hands it over) makes the refresh idempotent: a retry of an
    * applied batch is a no-op instead of the classic at-least-once
    * double-count. Refreshes of one name are serialized by the caller. */
  def refreshAggMv(name: String, deltaAgg: DataFrame, keys: Seq[String],
      batchId: Option[Long] = None): DataFrame = {
    val counterCols = deltaAgg.columns.filterNot(keys.contains)
    require(counterCols.nonEmpty, s"refreshAggMv($name): no counter columns")
    refreshTable(name, batchId) { stored =>
      stored.fold(deltaAgg)(_.unionByName(deltaAgg)).groupBy(keys.map(col): _*)
        .agg(sum(col(counterCols.head)).as(counterCols.head),
          counterCols.tail.map(c => sum(col(c)).as(c)): _*)
    }
  }

  /** Durable CDC (change-data-capture) view maintenance — the
    * latest-wins sibling of [[refreshAggMv]] for NON-algebraic state:
    * per key the stored row is the change with the highest `seqCol`
    * seen so far, `opCol` INCLUDED (a tombstone must survive in state
    * to beat an older upsert replayed later). Because the sequence
    * rides in the state, the merge is associative and commutative —
    * batches may arrive in ANY order, split at ANY boundary, and the
    * final state is identical (the replay-invariance spec pins this);
    * [[applyCdc]] by contrast folds a batch into a seq-less base, so
    * there correctness needs batch order to follow seq order. Caller
    * contract: `seqCol` values are unique per key (a (key, seq) tie has
    * no defined winner), and refreshes of one name are serialized, as
    * with [[refreshAggMv]], whose commit and batch-id rule it shares;
    * refresh cost O(|stored keys| + |batch|). The LIVE VIEW of the
    * state is `cdcState(name)` — upserts only. */
  def refreshCdcMv(name: String, changes: DataFrame, key: String,
      seqCol: String, opCol: String, batchId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    refreshTable(name, batchId) { stored =>
      stored.fold(changes)(_.unionByName(changes))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
  }

  /** The queryable face of a [[refreshCdcMv]] state: live rows only
    * (tombstones dropped, bookkeeping columns pruned). */
  def cdcState(name: String, opCol: String): DataFrame =
    mvState(name).where(col(opCol) === "u").drop(opCol)

  /** STREAMING SCD2 maintenance — [[scd2History]] made durable the way
    * [[refreshCdcMv]] makes current-state durable, without ever
    * re-windowing the full change log: per refresh, versions the batch
    * CLOSES land as an immutable `closed_seg_b<id>` segment (the
    * [[appendJoinMv]] append-only convention — history is written once
    * and never rewritten), while each key's still-OPEN version is a
    * small part rewritten per refresh (live-key population, the
    * dimension size class). Refresh cost is O(|open keys| + |batch|)
    * compute and O(|closed in batch|) write — independent of history
    * size, which is the 100 TB point: a year of version history costs
    * the year's closed-version bytes exactly once.
    *
    * Mechanics: the stored open versions re-enter the lead() window as
    * pseudo-changes at their original sequence, so a change in this
    * batch closes them exactly as the batch operator would; an upsert
    * with no successor becomes the new open version, a tombstone closes
    * without opening (and its key leaves the open state — deletes stay
    * auditable in the closed history).
    *
    * ORDERED-FEED CONTRACT (narrower than [[refreshCdcMv]]'s any-order
    * merge, and the price of append-only history): per key, every
    * sequence in a refresh must exceed every previously refreshed
    * sequence — a late change would need to REWRITE closed segments.
    * Event-time-ordered sources (the Replay source, any watermarked
    * handoff) satisfy this by construction; out-of-order backfills
    * route through [[scd2Backfill]] instead.
    *
    * One manifest commit publishes the closed segment, the delete
    * audit and the new open part together; a batch id at or below the
    * state's mark is a no-op. Caller-serialization per name as with
    * every MV. */
  def refreshScd2Mv(name: String, changes: DataFrame, key: String,
      seqCol: String, opCol: String, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val st = stateDir(name)
    val prev = st.latest.filter(_.family == Scd2)
    if (prev.exists(_.applied(batchId))) return
    val all = prev.fold(changes)(m => st.read(m.parts("open")).unionByName(changes))
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol))
    // three consumers (closed segment, delete audit, open part) —
    // materialized once so the stored-state union + lead() window runs
    // one time per refresh, not three (state+batch bounded, the same
    // rows the refresh rewrites anyway)
    val stamped = all.withColumn("__vt", lead(col(seqCol), 1).over(w))
      .localCheckpoint()
    val closed = stamped.where(col(opCol) === "u" && col("__vt").isNotNull)
      .withColumnRenamed(seqCol, "valid_from")
      .withColumnRenamed("__vt", "valid_to")
      .drop(opCol)
    val open = stamped.where(col(opCol) === "u" && col("__vt").isNull)
      .drop("__vt")
    try {
      val closedSeg = st.write(closed, s"closed_seg_b$batchId")
      // the DELETE AUDIT part: every tombstone's (key, seq), because the
      // version rows alone cannot encode a delete that deleted nothing
      // (a d on an already-tombstoned key) — and [[scd2Backfill]] must
      // replay even those when a late upsert lands a span under one.
      // repartition(1): a batch's deletes fit one file by nature.
      val tombsSeg = st.write(stamped.where(col(opCol) === "d")
        .select(col(key), col(seqCol)).repartition(1), s"tombs_seg_b$batchId")
      def grown(part: String, seg: Part) = prev.fold(seg)(_.parts(part) ++ seg)
      st.commit(Manifest(Scd2, Some(batchId), Map(
        "open" -> st.write(open, s"open_v${st.next}"),
        "closed" -> grown("closed", closedSeg),
        "tombs" -> grown("tombs", tombsSeg))))
    } finally stamped.unpersist(): Unit
  }

  /** Fold every closed segment of a [[refreshScd2Mv]] state into ONE
    * — the operational counterpart of append-only history maintenance,
    * the [[compactJoinMv]] shape: segments accumulate one per refresh,
    * reads pay a union per segment until someone compacts. The fold
    * (and the folded delete audit) are written to fresh directories and
    * one manifest swaps them in for the segments; the open part stays
    * listed as it is, and so does the batch-id mark, so a replayed
    * batch still no-ops after compaction. */
  def compactScd2(name: String): Unit = {
    val (st, m) = committed(name, Scd2, "scd2 state")
    val closed = m.parts("closed")
    if (closed.segments.size < 2) return // nothing to fold
    val v = st.next
    st.commit(m.copy(parts = m.parts ++ Map(
      "closed" -> st.write(st.read(closed), s"closed_v$v"),
      // the delete-audit parts fold the same way (dropping them would
      // re-lose the no-op deletes scd2Backfill exists to replay)
      "tombs" -> st.write(st.read(m.parts("tombs")).repartition(1), s"tombs_v$v"))))
  }

  /** OUT-OF-ORDER BACKFILL — the repair verb for the one contract
    * [[refreshScd2Mv]] cannot honor (a late change would rewrite
    * closed segments, so the refresh path refuses it by design). The
    * affected keys' change logs are RECONSTRUCTED FROM THE STORED
    * HISTORY ITSELF — no raw change log is retained anywhere: every
    * version row is an upsert at its valid_from, and a closed version
    * whose valid_to no successor opens at was closed by a TOMBSTONE
    * (deletes stay recoverable precisely because tombstones close
    * without opening). The batch [[scd2History]] re-derives those
    * keys' histories over reconstructed ∪ late; every other key's
    * rows copy through untouched. Committed like a compaction: the
    * repaired segment, open part and delete audit are fresh
    * directories one manifest publishes, and the batch-id mark carries
    * over, so the ordered stream resumes exactly where it left off and
    * a replayed last batch still no-ops.
    *
    * Cost: O(affected keys' history) compute, O(TOUCHED segments)
    * rewrite bytes — a closed segment holding no affected key simply
    * stays listed (its files are never touched), so repairing a few
    * late keys never rewrites a multi-TB history. The price of
    * repairing append-only storage is paid only when late data
    * actually arrives; the streaming refresh path stays O(Δ). Caller
    * contract: `late` carries exactly the change schema (key, seq, op,
    * values), (key, seq) unique across late ∪ applied. */
  def scd2Backfill(name: String, late: DataFrame, key: String,
      seqCol: String, opCol: String): Unit = {
    val (st, m) = committed(name, Scd2, "scd2 state")
    val keys = late.select(col(key)).distinct()
    // TOUCH ONLY THE DELTA: one pruned (key, file) scan of the closed
    // history semi-joined to the late keys finds the segments holding
    // affected keys. The repair only ever needs those rows: an affected
    // key's complete history lives in touched segments ∪ open.
    val closed = m.parts("closed")
    val touched = st.read(closed)
      .select(col(key), input_file_name().as("__f"))
      .join(broadcast(keys), Seq(key))
      .select(col("__f")).distinct().collect()
      .map(r => new Path(r.getString(0)).getParent.getName).toSet
    val (hit, kept) = closed.segments.partition(s => touched(s.dir))
    val hist = scd2HistoryFromParts(st.read(m.parts("open")),
      if (hit.isEmpty) None else Some(st.read(closed.copy(segments = hit))),
      seqCol, opCol)
    val valueCols = hist.columns
      .filterNot(Seq(key, "valid_from", "valid_to", "is_current").contains)
    // three consumers (upserts + both sides of the inferred-tombstone
    // anti-join) — materialized once so the stored history (touched
    // segments ∪ open) is scanned one time, bounded by the late keys'
    // own history
    val affected = hist.join(broadcast(keys), Seq(key)).localCheckpoint()
    val upserts = affected.select(
      Seq(col(key), col("valid_from").as(seqCol), lit("u").as(opCol)) ++
        valueCols.map(col): _*)
    // tombstones come from TWO sources, deduped on (key, seq): inferred
    // (a closed version's valid_to no successor opens at was closed by
    // a d) and the delete audit — the audit is what preserves NO-OP
    // deletes (a d on an already-tombstoned key), which leave no trace
    // in the version rows yet must still close a span when a late
    // upsert lands under them
    val tombs = st.read(m.parts("tombs"))
    val inferred = affected.where(col("valid_to").isNotNull)
      .select(col(key), col("valid_to").as(seqCol))
      .join(affected.select(col(key), col("valid_from").as(seqCol)),
        Seq(key, seqCol), "left_anti")
    val tombstones = inferred
      .unionByName(tombs.join(broadcast(keys), Seq(key)).select(col(key), col(seqCol)))
      .distinct()
      .select(Seq(col(key), col(seqCol), lit("d").as(opCol)) ++
        valueCols.map(c => lit(null).cast(hist.schema(c).dataType).as(c)): _*)
    val merged = upserts.unionByName(tombstones)
      .unionByName(late.select(upserts.columns.map(col): _*))
    val fixed = Catalog.scd2History(merged, key, seqCol, opCol)
    // unaffected keys' rows WITHIN the touched segments (and open) —
    // they must ride into the replacement segment; unaffected keys in
    // kept segments never enter the plan at all
    val untouched = hist.join(broadcast(keys), Seq(key), "left_anti")
    val newHist = untouched
      .unionByName(fixed.select(untouched.columns.map(col): _*))
      .localCheckpoint()
    val v = st.next
    // the repaired delete audit: affected keys' deletes from the merged
    // log (late deletes included), untouched keys' audit rows verbatim
    val audit = tombs.join(broadcast(keys), Seq(key), "left_anti")
      .unionByName(merged.where(col(opCol) === "d").select(col(key), col(seqCol)))
    st.commit(m.copy(parts = Map(
      "closed" -> (closed.copy(segments = kept) ++ st.write(
        newHist.where(col("valid_to").isNotNull).drop("is_current"), s"closed_v$v")),
      "open" -> st.write(newHist.where(col("valid_to").isNull)
        .select(Seq(col(key), col("valid_from").as(seqCol), lit("u").as(opCol)) ++
          valueCols.map(col): _*), s"open_v$v"),
      "tombs" -> st.write(audit.repartition(1), s"tombs_v$v"))))
  }

  /** The full version history of a [[refreshScd2Mv]] state: every
    * closed segment plus the open versions (valid_to null, is_current
    * true) — column-for-column the batch [[scd2History]] over the same
    * (ordered) change log, which is what the e_scd2_stream oracle and
    * the invariance spec verify. */
  def scd2MvHistory(name: String, seqCol: String,
      opCol: String): DataFrame = {
    val (st, m) = committed(name, Scd2, "scd2 state")
    scd2HistoryFromParts(st.read(m.parts("open")),
      Some(st.read(m.parts("closed"))), seqCol, opCol)
  }

  /** [[scd2MvHistory]]'s assembly over an EXPLICIT closed history —
    * the hook [[scd2Backfill]] uses to build its repair plan from the
    * touched segments only. */
  private def scd2HistoryFromParts(openRaw: DataFrame, closed: Option[DataFrame],
      seqCol: String, opCol: String): DataFrame = {
    val open = openRaw
      .withColumnRenamed(seqCol, "valid_from")
      .withColumn("valid_to", lit(null).cast(openRaw.schema(seqCol).dataType))
      .drop(opCol)
    closed.map(_.unionByName(open)).getOrElse(open)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Durable KMV-sketch MV — the BOUNDED-SKETCH rung of the MV family,
    * for the aggregate [[refreshAggMv]] can't maintain: distinct
    * counts aren't algebraic (a count per batch can't be summed), but
    * the KMV sketch IS mergeable — the k smallest distinct hashes of
    * A ∪ B are recoverable from (k smallest of A) ∪ B, so per-key
    * sketch state refreshes incrementally with the same
    * O(|stored keys|·k + |delta|) cost profile as the counter MV, and
    * the refreshed sketch is IDENTICAL to one built from scratch over
    * all history (not merely close — the estimate is a pure function
    * of the state, so batch boundaries are invisible; the invariance
    * spec pins this).
    *
    * State is plain parquet at (keys, h) grain, ≤ k rows per key —
    * bounded regardless of history size, which is the 100 TB point:
    * a distinct-customers-per-segment card over a year of history
    * costs k longs per segment, not a year of customer ids. The merge
    * runs through [[graft.functions.KmvSketch.Kmv]]'s bounded
    * mergeable buffer (map-side combine ships ≤ k longs per key per
    * task) and explodes back to rows for the commit. `hashCol` must be
    * uniform on [0, 2⁶⁰) — use `TextAnalysis.portableHash60`, which
    * keeps the whole state engine-portable (the DuckDB oracle rebuilds
    * it with md5 + row_number). Same exactly-once `batchId` rule and
    * caller-serialization contract as [[refreshAggMv]]. */
  def refreshKmvMv(name: String, delta: DataFrame, keys: Seq[String],
      hashCol: String, k: Int, batchId: Option[Long] = None): DataFrame = {
    val d = delta.select(keys.map(col) :+ col(hashCol).as("h"): _*)
    refreshTable(name, batchId) { stored =>
      stored.fold(d)(_.unionByName(d)).groupBy(keys.map(col): _*)
        .agg(graft.functions.KmvSketch.kmv(col("h"), k).as("__buf"))
        .select(keys.map(col) :+ explode(col("__buf")).as("h"): _*)
    }
  }

  /** Distinct-count estimates from a [[refreshKmvMv]] state: per key,
    * exact when fewer than k hashes are stored (the state then IS the
    * distinct hash set), else (k−1)·2⁶⁰/h₍ₖ₎ — and because the state
    * keeps exactly the k smallest, h₍ₖ₎ is simply max(h). The
    * expression shape mirrors `KmvSketch.estimate` (and the oracle SQL)
    * so the double arithmetic is bit-identical cross-engine. */
  def kmvMvEstimate(name: String, keys: Seq[String], k: Int): DataFrame =
    tableState(name, "kmv state")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__hk"))
      .select(keys.map(col) :+
        when(col("__n") === k, col("__hk")).as("hk") :+
        when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
            col("__hk").cast("double")).as("est"): _*)

  /** Durable QUANTILE-sketch MV — the third sketch-MV rung beside the
    * counter MV ([[refreshAggMv]]), the distinct rung ([[refreshKmvMv]])
    * and the frequency rung (CMS through refreshAggMv): per key the
    * state is the ≤ k (hash, value) pairs with the SMALLEST portable
    * hashes — [[graft.functions.BottomKSample]]'s uniform sample — and
    * like KMV the merge is LOSSLESS: a hash survives into the merged
    * bottom-k only if it would survive a from-scratch pass (its rank
    * among distinct hashes only grows as data accumulates), and its
    * retained value is the same min-per-hash, so the refreshed state —
    * and every quantile estimated from it — is IDENTICAL to a sketch
    * built over all history at once (split-invariance spec'd; the
    * fs_incr_qsketch oracle rebuilds from scratch in SQL).
    *
    * State: plain parquet at (keys, h, val) grain, ≤ k rows per key
    * regardless of history — "p50/p95 per segment over a year" costs
    * k pairs per segment, not a year of values. Same exactly-once
    * batch-id rule and caller-serialization contract as every MV. */
  def refreshQsketchMv(name: String, delta: DataFrame, keys: Seq[String],
      hashCol: String, valueCol: String, k: Int,
      batchId: Option[Long] = None): DataFrame = {
    val d = delta.select(
      keys.map(col) :+ col(hashCol).as("h") :+ col(valueCol).as("val"): _*)
    refreshTable(name, batchId) { stored =>
      stored.fold(d)(_.unionByName(d)).groupBy(keys.map(col): _*)
        .agg(graft.functions.BottomKSample.bottomK(col("h"), col("val"), k)
          .as("__buf"))
        .select(keys.map(col) :+ explode(col("__buf")).as("p"): _*)
        .select(keys.map(col) :+ col("p._1").as("h") :+ col("p._2").as("val"): _*)
    }
  }

  /** The MEMBERSHIP rung of the sketch-MV family (counters / KMV
    * distinct / CMS frequency / quantiles / BLOOM membership): a Bloom
    * bitset maintained as durable state, one row per touched 64-bit
    * word. Bits only turn ON and OR is idempotent + commutative +
    * associative, so the fold is LOSSLESS — folded state is
    * bit-identical to one pass over everything
    * ([[graft.operators.BloomJoin.wordDelta]] is the mergeable
    * buffer) — and uniquely in the family even a double-applied delta
    * could not corrupt it; the batch-id rule still applies for
    * uniformity. At 100 TB this is the always-current "have we
    * ingested this id" gate: ≤ m/64 longs of state, refresh cost
    * tracks the delta, and the read side prefilters every incremental
    * batch through [[graft.operators.BloomJoin.antiJoin]]'s bypass. */
  def refreshBloomMv(name: String, deltaWords: DataFrame,
      batchId: Option[Long] = None): DataFrame =
    refreshTable(name, batchId) { stored =>
      stored.fold(deltaWords)(_.unionByName(deltaWords))
        .groupBy(col("w")).agg(expr("bit_or(b)").as("b"))
    }

  /** The folded bitset as the probe-side array
    * ([[graft.operators.BloomJoin.mightContain]]'s input) — ≤ m/64
    * rows collected, the same driver bound every bloom build accepts. */
  def bloomMvBits(name: String, mBits: Int): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64: $mBits")
    val arr = new Array[Long](mBits / 64)
    tableState(name, "bloom state").collect()
      .foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Quantile estimates from a [[refreshQsketchMv]] state: the stored
    * pairs re-enter the bounded buffer (≤ k rows per key — the re-agg
    * is metadata-sized) and interpolate exactly as the one-shot
    * `Analytics.quantileSketch`, so the two are value-identical. */
  def qsketchMvEstimate(name: String, keys: Seq[String],
      k: Int): DataFrame = {
    import graft.functions.BottomKSample._
    import graft.functions.Exact.round6
    tableState(name, "qsketch state")
      .groupBy(keys.map(col): _*)
      .agg(bottomK(col("h"), col("val"), k).as("b"))
      .select(keys.map(col) :+
        size(col("b")).cast("long").as("n_sample") :+
        round6(sampleQuantile(col("b"), 0.5)).as("p50_est") :+
        round6(sampleQuantile(col("b"), 0.95)).as("p95_est"): _*)
  }

  /** Commit ANY derived table as Catalog-owned durable state — the
    * generic form of the MV persistence (same commit, no batch id);
    * a fresh session reads it back with [[loadDerived]]. The
    * production home for prebuilt indexes (e.g.
    * `Dedup.buildMinhashIndex` signatures — sign the corpus once,
    * dedup every future batch against the stored index without
    * touching corpus text again). */
  def saveDerived(name: String, df: DataFrame): Unit = {
    val st = stateDir(name)
    st.commit(Manifest(Table, None, Map("data" -> st.write(df, s"data_v${st.next}"))))
  }

  /** Read a [[saveDerived]]-committed table (throws when nothing is
    * committed — a torn save never serves). */
  def loadDerived(name: String): DataFrame = tableState(name, "derived table")

  /** Persist an IVF ANN index as Catalog-owned durable state — the
    * "index once, query many" production shape: assignments and
    * centroids commit together under `derivedDir/<name>`, so a FRESH
    * session serves queries from disk alone, paying neither the
    * k-means pass nor the assignment scan again (at 100 TB the build is
    * a batch job; the query service only ever calls [[loadAnnIndex]]).
    * A save replaces any earlier index of the name and starts with no
    * batch-id mark. */
  def saveAnnIndex(name: String,
      index: graft.operators.Similarity.IvfIndex): Unit =
    saveIndex(name, "assignments" -> index.assignments,
      "centroids" -> index.centroids)

  /** Persist an int8-residual IVF index ([[graft.operators.Similarity
    * .IvfQIndex]]) — three parts committed together: assignments,
    * centroids, and the per-cell residual SCALES. The scales are part
    * of the frozen quantizer exactly like the centroids: without them
    * an upsert could not encode deltas bit-identically to the build. */
  def saveAnnIndexQ(name: String,
      index: graft.operators.Similarity.IvfQIndex): Unit =
    saveIndex(name, "assignments" -> index.assignments,
      "centroids" -> index.centroids, "scales" -> index.scales)

  private def saveIndex(name: String, parts: (String, DataFrame)*): Unit = {
    val st = stateDir(name)
    st.commit(Manifest(Ann, None, parts.map { case (p, df) =>
      p -> st.write(df, s"${p}_v${st.next}") }.toMap))
  }

  /** INCREMENTAL ANN index maintenance — new vectors join a committed
    * index WITHOUT a rebuild: the delta is assigned against the
    * FROZEN centroid table (`Similarity.assignNew` — map-only, the
    * FAISS `add()` shape) and lands as a NEW immutable segment
    * (`assignments_seg_b<id>`), the [[appendJoinMv]] convention; a
    * batch id at or below the index's mark is a no-op. Refresh cost
    * O(|delta|) in compute AND write, independent of index size — at
    * 100 TB the index stays fresh without re-touching the corpus.
    * Because assignment is a pure function of the frozen centroids,
    * search over the segmented index EQUALS search over a monolithic
    * rebuild against the same centroids (spec + the s_ann_upsert
    * oracle pin this). Delta ids must be new — see
    * [[requireDisjoint]]; [[upsertAnnIndexQ]]'s `check = true`
    * enforces it. */
  def upsertAnnIndex(name: String, newVectors: DataFrame,
      batchId: Long): Unit = {
    val (st, m) = committed(name, Ann, "ANN index to upsert")
    appendAssignments(name, st, m, newVectors, batchId, false)(
      graft.operators.Similarity.assignNew(newVectors, st.read(m.parts("centroids"))))
  }

  /** INCREMENTAL upsert for the QUANTIZED index — [[upsertAnnIndex]]'s
    * segment convention applied to the index that still FITS at
    * 100 TB (~dim+16 bytes/vector): the delta is encoded against the
    * FROZEN centroids AND scales (`Similarity.assignNewQ` — codes are a
    * pure per-vector function of both) and lands as an immutable
    * `assignments_seg_b<id>` segment, so segmented search equals a
    * monolithic encode-all rebuild (the s_ann_upsert_q oracle + spec
    * pin it). Same batch-id rule and [[requireDisjoint]] contract as
    * the float path. */
  def upsertAnnIndexQ(name: String, newVectors: DataFrame,
      batchId: Long, check: Boolean = false): Unit = {
    val (st, m) = committed(name, Ann, "quantized ANN index to upsert")
    require(m.parts.contains("scales"), s"no committed quantized ANN index to upsert: $name")
    appendAssignments(name, st, m, newVectors, batchId, check)(
      graft.operators.Similarity.assignNewQ(newVectors,
        st.read(m.parts("centroids")), st.read(m.parts("scales"))))
  }

  private def appendAssignments(name: String, st: StateDir, m: Manifest,
      newVectors: DataFrame, batchId: Long, check: Boolean)(
      assigned: => DataFrame): Unit =
    if (!m.applied(batchId)) {
      if (check) requireDisjoint(name, st.read(m.parts("assignments")), newVectors)
      st.commit(m.copy(mark = Some(batchId), parts = m.parts + ("assignments" ->
        (m.parts("assignments") ++ st.write(assigned, s"assignments_seg_b$batchId")))))
    }

  /** DISJOINTNESS CONTRACT shared by every index upsert: `vec_id`s in
    * `newVectors` must not already exist in the committed index or in
    * any earlier segment — the batch-id rule dedups BATCHES, never
    * ROWS, so re-upserting live ids under a NEW batch id lands
    * duplicate index entries and the search returns duplicate
    * neighbors. The check is one anti-join of the (small) delta against
    * the assignment ids — opt-in via `check = true` on the upsert verbs
    * because at 100 TB it re-reads the full id column per refresh; the
    * production pipeline makes ids disjoint by construction
    * (append-only corpora name new rows with new ids) and turns the
    * check on in staging. */
  private def requireDisjoint(name: String, indexed: DataFrame,
      newVectors: DataFrame): Unit = {
    val dup = newVectors.select(col("vec_id"))
      .join(indexed.select(col("vec_id")), Seq("vec_id"))
      .limit(1).count()
    require(dup == 0L,
      s"upsert into $name: delta contains vec_ids already indexed " +
        "(segments dedup batches, not rows — see the disjointness contract)")
  }

  /** Load a [[saveAnnIndex]]-committed index: the base assignments plus
    * every committed upsert segment, and the frozen centroids (throws
    * when nothing is committed — a torn save never serves). */
  def loadAnnIndex(name: String): graft.operators.Similarity.IvfIndex = {
    val (st, m) = committed(name, Ann, "ANN index")
    graft.operators.Similarity.IvfIndex(st.read(m.parts("assignments")),
      st.read(m.parts("centroids")))
  }

  /** Load a committed quantized index: base + upsert segments, the
    * frozen centroids and scales. */
  def loadAnnIndexQ(name: String): graft.operators.Similarity.IvfQIndex = {
    val (st, m) = committed(name, Ann, "quantized ANN index")
    require(m.parts.contains("scales"), s"no committed quantized ANN index: $name")
    graft.operators.Similarity.IvfQIndex(st.read(m.parts("assignments")),
      st.read(m.parts("centroids")), st.read(m.parts("scales")))
  }

  /** Fold every upsert segment of an ANN index (float or int8: the
    * segment convention is shared) into one base assignments part —
    * the operational counterpart of O(Δ) upserts, exactly as
    * [[compactJoinMv]] is to [[appendJoinMv]]: segments accumulate one
    * per refresh and reads pay a union per segment until someone
    * compacts. The fold is written to a fresh directory and one
    * manifest swaps it in for the segments; the quantizer parts
    * (centroids, scales) stay listed as they are, and so does the
    * batch-id mark, so a replay of ANY folded batch still no-ops. */
  def compactAnnIndex(name: String): Unit = {
    val (st, m) = committed(name, Ann, "ANN index")
    val assignments = m.parts("assignments")
    if (assignments.segments.size > 1)
      st.commit(m.copy(parts = m.parts + ("assignments" ->
        st.write(st.read(assignments), s"assignments_v${st.next}"))))
  }

  // ──────────────────────────────────────────────────────────────────
  // Durable INVERTED TEXT INDEX — BM25's prepared artifact, the ANN
  // index family's conventions applied to lexical retrieval: build
  // once, query many; O(Δ) batch-named upsert segments under the
  // batch-id rule; compaction by manifest. The ranking-relevant
  // difference from the ANN family: BM25's idf/avgdl depend on GLOBAL
  // corpus stats, which derive at load from the dl union (counts are
  // algebraic — the fold is lossless) and every search scores against
  // the folded totals, which is why an upserted index EQUALS a
  // monolithic rebuild exactly. The positional grain is fixed at build
  // time and rides in the manifest, so an upsert never probes a footer.

  /** Build and commit the index: posting lists `(doc_id, term, tf)`
    * range-clustered by term (a query-term read prunes to matching
    * files/row groups via parquet min/max stats) and document
    * lengths. The corpus stats `(n_docs, sum_dl)` are NOT stored:
    * they derive at load as one aggregate over the dl union
    * (`n_docs = count, sum_dl = Σ dl` — the identical integers the
    * per-part fold produced), which saves one
    * write + one read-back job per build AND per upsert batch. Both
    * parts commit in one manifest, replacing any earlier index of the
    * name with its segments; a build starts with no batch-id mark.
    * `positional = true` stores per-(doc, term) position arrays too —
    * bag-of-words reads are unchanged, phrase queries
    * ([[graft.operators.TextAnalysis.bm25PhraseIndexed]]) become
    * postings-only. */
  def buildTextIndex(name: String, docs: DataFrame,
      positional: Boolean = false): Unit = {
    import graft.operators.TextAnalysis
    val st = stateDir(name)
    val v = st.next
    // ONE corpus tokenize per build: the postings aggregate is pinned
    // lazily (persist) across its two consumers — repartitionByRange's
    // range-boundary SAMPLE job and the write itself each computed the
    // full tokenize before. (A build has exactly one fill and two
    // reads, unlike the per-microbatch upsert where the same persist
    // measured slower; freed in the finally.)
    val post = (if (positional) TextAnalysis.textPostingsPositional(docs)
      else TextAnalysis.textPostings(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings =
      try st.write(post.repartitionByRange(col("term"))
        .sortWithinPartitions(col("term")), s"postings_v$v")
      finally post.unpersist(): Unit
    // dl derives from the written postings (dl = Σ tf per doc — the
    // identical integer to counting the doc's tokens, and the identical
    // row set: a doc appears iff it has ≥1 token): the second corpus
    // pass is a pruned (doc_id, tf) read of the just-written columnar
    // postings
    val dl = st.write(st.read(postings)
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")), s"dl_v$v")
    st.commit(Manifest(Text, None, Map("postings" -> postings, "dl" -> dl),
      Map("positional" -> positional.toString)))
  }

  /** O(Δ) index maintenance: ONLY the new documents are tokenized;
    * their postings and lengths land as batch-named segments
    * (`*_seg_b<id>`) that one manifest publishes together; a batch id
    * at or below the index's mark is a no-op. Disjointness contract as
    * [[upsertAnnIndex]]: the batch-id rule dedups BATCHES, never rows —
    * re-upserting live doc_ids under a new batch id double-counts them
    * in df/dl and skews every score. */
  def upsertTextIndex(name: String, newDocs: DataFrame, batchId: Long): Unit = {
    val (st, m) = committed(name, Text, "text index to upsert")
    if (m.applied(batchId)) return
    import graft.operators.TextAnalysis
    // segment postings match the base's grain: positional bases get
    // positional segments (the union must be schema-stable)
    val positional = m.meta("positional").toBoolean
    // ONE tokenize pass per LARGE batch: the postings aggregate is
    // materialized (localCheckpoint — bounded by the batch) so dl
    // (= Σ tf per doc, the identical integer and row set), the
    // range-partition sample and the segment write all reuse those
    // rows instead of re-tokenizing the batch three times. SIZE-ROUTED
    // (the spreadSmall rule): for a small batch ANY pin costs more
    // than the repeated tokenize — measured d_index_maint 8.6 → 10.9 s
    // with an unconditional checkpoint at sf0.1, and 6.7 → 9.8 s with
    // a lazy MEMORY_AND_DISK persist (cache fill + InMemoryRelation
    // overhead per microbatch) — so below 64 MB the plan stays lazy
    // and the shape matches the old one; above it (any real corpus
    // drop) the batch tokenizes once. Guarded against the
    // defaultSizeInBytes sentinel (a plan with no file-source stats
    // would otherwise always route "big").
    val postPlan = if (positional) TextAnalysis.textPostingsPositional(newDocs)
      else TextAnalysis.textPostings(newDocs)
    val batchBytes = newDocs.queryExecution.optimizedPlan.stats.sizeInBytes
    val bigBatch = batchBytes > (64L << 20) &&
      batchBytes < spark.sessionState.conf.defaultSizeInBytes
    val post = if (bigBatch) postPlan.localCheckpoint() else postPlan
    // dl: Σ tf over the materialized postings when big (no second
    // tokenize); the direct one-level token count when small (the
    // two-level re-agg over a LAZY postings plan measured slower than
    // the plain count at microbatch sizes)
    val dl =
      if (bigBatch) post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      else newDocs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    try {
      // no stats sidecar: (n_docs, sum_dl) derive from the dl union at
      // load, so each batch pays exactly TWO write jobs (dl, postings)
      // instead of three writes plus a dl read-back
      val dlSeg = st.write(dl, s"dl_seg_b$batchId")
      // term clustering size-routed like the tokenize: a big batch is
      // range-partitioned (the sampling job is amortized), a small one
      // writes a single term-sorted file — same clustered-read
      // property, no per-microbatch range-sampling pass (which was a
      // third tokenize of the batch)
      val postSeg = st.write(
        (if (bigBatch) post.repartitionByRange(col("term")) else post.coalesce(1))
          .sortWithinPartitions(col("term")), s"postings_seg_b$batchId")
      st.commit(m.copy(mark = Some(batchId), parts = Map(
        "postings" -> (m.parts("postings") ++ postSeg),
        "dl" -> (m.parts("dl") ++ dlSeg))))
    } finally if (bigBatch) post.unpersist(): Unit
  }

  /** The committed index: base parts plus every upsert segment, read
    * from the files the manifest lists with their stored schemas — no
    * listing, no schema inference, no Spark job. The 1-row corpus
    * stats BM25 scores against derive LAZILY from the dl union
    * (`n_docs = count, sum_dl = Σ dl` — the identical integers the
    * stored per-part fold used to produce, over the identical rows). */
  def loadTextIndex(name: String): graft.operators.TextAnalysis.TextIndex = {
    val (st, m) = committed(name, Text, "text index")
    val dl = st.read(m.parts("dl"))
    graft.operators.TextAnalysis.TextIndex(
      st.read(m.parts("postings")), dl,
      dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl")))
  }

  /** Segment compaction for the text index — [[compactAnnIndex]]'s
    * fold applied to the two-part layout: folded postings (range-
    * clustered by term again) and dl are written to fresh directories
    * and one manifest swaps them in for the base and its segments,
    * which are deleted once it commits. The batch-id mark carries
    * over, so a replay of ANY folded batch still no-ops. */
  def compactTextIndex(name: String): Unit = {
    val (st, m) = committed(name, Text, "text index")
    if (m.parts("postings").segments.size < 2) return
    val v = st.next
    st.commit(m.copy(parts = Map(
      "postings" -> st.write(st.read(m.parts("postings"))
        .repartitionByRange(col("term")).sortWithinPartitions(col("term")),
        s"postings_v$v"),
      "dl" -> st.write(st.read(m.parts("dl")), s"dl_v$v"))))
  }

  /** ONE operational verb for segment hygiene — the policy knob O(Δ)
    * maintenance needs so nobody schedules four compactors by hand:
    * walk the derived dir, read each state's family and segment count
    * from its manifest (ANN index: assignments segments; text index:
    * postings segments; SCD2 history: closed segments; join MV: all
    * segments), and compact every artifact whose segment count reached
    * `threshold`. Artifacts below threshold are untouched. Returns the
    * names compacted; call it from the refresh scheduler's idle slot. */
  def maintain(threshold: Int = 8): Seq[String] = {
    require(threshold >= 2, s"maintain threshold must be >= 2: $threshold")
    val root = new Path(derivedDir)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(d => maintainState(d.getPath.getName, threshold))
  }

  /** [[maintain]] scoped to ONE artifact — the form a streaming drive
    * calls from inside its own foreachBatch (the upsert loop already
    * serializes with reads, so compacting there is safe), keeping a
    * live index's segment count ≤ threshold without an external
    * scheduler. Returns whether a compaction ran. */
  def maintainOne(name: String, threshold: Int = 8): Boolean = {
    require(threshold >= 2, s"maintain threshold must be >= 2: $threshold")
    maintainState(name, threshold).nonEmpty
  }

  /** Per segmented family: the part whose segments count, how many of
    * its directories are a base rather than a segment, and the
    * compactor. */
  private val segmented: Map[String, (String, Int, String => Unit)] = Map(
    Ann -> (("assignments", 1, compactAnnIndex _)),
    Text -> (("postings", 1, compactTextIndex _)),
    Scd2 -> (("closed", 0, compactScd2 _)),
    Join -> (("seg", 0, n => compactJoinMv(n): Unit)))

  private def maintainState(name: String, threshold: Int): Option[String] =
    stateDir(name).latest.flatMap(m => segmented.get(m.family).collect {
      case (part, base, compact)
          if m.parts(part).segments.size - base >= threshold =>
        compact(name); name
    })

  /** APPEND-ONLY incremental JOIN view: each refresh joins the fact
    * DELTA against the dimension and lands the result as a NEW
    * immutable segment under `derivedDir/<name>` (`seg_b<id>`, or
    * `seg_v<version>` without a batch id) — the view is never
    * rewritten (contrast [[refreshAggMv]], which must re-merge
    * counters), so refresh cost is O(|Δfact ⋈ dim|) in compute AND
    * write, independent of view size — the only append shape that
    * survives a 100 TB view. Correct for exactly the
    * append-only-fact × refresh-time-fixed-dimension case (the ΔA⋈B
    * term of the delta-join identity; a mutating dimension or
    * retracting fact needs the CDC/upsert paths).
    *
    * EXACTLY-ONCE: a batch id at or below the view's mark is a no-op;
    * a torn append is invisible (no manifest lists it) and the retry
    * replaces it. Without a batch id every call appends. Same
    * serialization contract as [[refreshAggMv]] per name. */
  def appendJoinMv(name: String, factDelta: DataFrame, dim: DataFrame,
      keys: Seq[String], batchId: Option[Long] = None): DataFrame = {
    val st = stateDir(name)
    val prev = st.latest.filter(_.family == Join)
    if (!batchId.exists(id => prev.exists(_.applied(id)))) {
      val seg = st.write(factDelta.join(dim, keys),
        batchId.fold(s"seg_v${st.next}")(id => s"seg_b$id"))
      st.commit(Manifest(Join, batchId.orElse(prev.flatMap(_.mark)),
        Map("seg" -> prev.fold(seg)(_.parts("seg") ++ seg))))
    }
    readJoinMv(name)
  }

  /** Fold every [[appendJoinMv]] segment into ONE — the operational
    * counterpart of append-only maintenance (segments accumulate one
    * per refresh; reads pay a union per segment until someone
    * compacts). The fold is written to a fresh directory and one
    * manifest swaps it in for the segments, so a torn compaction never
    * loses the view, and the batch-id mark carries over: a replay of
    * ANY folded batch still no-ops. Compaction itself must be
    * serialized with refreshes of the name, like every other mutation. */
  def compactJoinMv(name: String): DataFrame = {
    val (st, m) = committed(name, Join, "join-MV segments")
    val segs = m.parts("seg")
    if (segs.segments.size > 1)
      st.commit(m.copy(parts = Map("seg" -> st.write(st.read(segs), s"seg_v${st.next}"))))
    readJoinMv(name)
  }

  /** Union read of every committed [[appendJoinMv]] segment (throws
    * when nothing is committed — a torn-only view never serves). */
  def readJoinMv(name: String): DataFrame = {
    val (st, m) = committed(name, Join, "join-MV segments")
    st.read(m.parts("seg"))
  }

  /** Current committed MV state (throws if no refresh has committed
    * `name`). */
  def mvState(name: String): DataFrame = tableState(name, "MV state")

  /** Drop derived state `name` (any family, or a partitioned layout).
    * Returns whether it existed. */
  def dropDerived(name: String): Boolean = {
    val p = new Path(s"$derivedDir/$name")
    p.getFileSystem(hconf).delete(p, true)
  }

  /** SNAPSHOT a table state into the Catalog-owned versioned layout
    * `derivedDir/snap_<name>` — append-only time travel for derived
    * datasets (the audit answer to "what did the corpus look like when
    * we trained?"). Each version is an immutable part `v<N>` of the
    * state's manifest, so a version is readable exactly when the
    * commit that added it published, and versions only ever grow.
    * Returns the new version number. */
  def snapshot(name: String, df: DataFrame): Int = {
    val st = stateDir(s"snap_$name")
    val parts = snapshotParts(st)
    val next = versions(parts).lastOption.getOrElse(0) + 1
    st.commit(Manifest(Snap, None, parts + (s"v$next" -> st.write(df, s"v$next"))))
    next
  }

  private def snapshotParts(st: StateDir): Map[String, Part] =
    st.latest.filter(_.family == Snap).fold(Map.empty[String, Part])(_.parts)

  private def versions(parts: Map[String, Part]): Seq[Int] =
    parts.keys.map(_.drop(1).toInt).toSeq.sorted

  /** Committed snapshot versions of `name`, ascending. */
  def snapshotVersions(name: String): Seq[Int] =
    versions(snapshotParts(stateDir(s"snap_$name")))

  /** Read snapshot `version` of `name` (default: latest). */
  def readSnapshot(name: String, version: Int = -1): DataFrame = {
    val st = stateDir(s"snap_$name")
    val parts = snapshotParts(st)
    require(parts.nonEmpty, s"no snapshots of $name")
    val v = if (version < 0) versions(parts).last else version
    require(parts.contains(s"v$v"), s"no snapshot v$v of $name")
    st.read(parts(s"v$v"))
  }

  /** Retention (TTL) purge — the GDPR/data-lifecycle verb: persist the
    * rows satisfying `keep` as a NEW version in the [[snapshot]] family
    * (append-only, so the pre-purge state stays readable by version —
    * the audit answer to "what exactly did we delete, and what did the
    * table look like before") and return a one-row audit card of
    * kept/purged counts. No silent deletes: the purge IS the card.
    * Counts come from one flagged pass over the input; the snapshot
    * write re-reads the kept slice (parquet scan, filter pushed down).
    * Idempotence is the caller's choice: drop the snapshot family
    * first for a deterministic v1, or let versions accumulate as the
    * retention schedule fires. */
  def retentionPurge(name: String, df: DataFrame, keep: Column): DataFrame = {
    snapshot(name, df.where(keep))
    df.agg(
      coalesce(sum(when(keep, 1L).otherwise(0L)), lit(0L)).as("n_kept"),
      coalesce(sum(when(keep, 0L).otherwise(1L)), lit(0L)).as("n_purged"))
  }

  /** Remove what no commit published under [[derivedDir]]: a state
    * directory with no manifest (an interrupted first commit) is
    * deleted, and in a committed state every manifest but the highest
    * and every directory it does not list (an interrupted later
    * commit). Plain committed layouts — a `_SUCCESS` at their root
    * ([[partitionedLayout]], zone-mapped dirs) — are kept, a
    * directory holding states below it (a `publish` release) is
    * vacuumed inside, and any other directory is debris. Committed
    * state is never touched. Run it only while no refresh is in flight
    * — the same caller-serialization contract as [[refreshAggMv]].
    * Returns the number of directories removed. */
  def vacuumDerived(): Int = {
    val base = new Path(derivedDir)
    val fs = base.getFileSystem(hconf)
    def subdirs(p: Path) = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    def isState(p: Path) = fs.exists(new Path(p, StateDir.Log))
    def holdsState(p: Path): Boolean = isState(p) || subdirs(p).exists(holdsState)
    def drop(p: Path) = { fs.delete(p, true); 1 }
    def vacuum(p: Path): Int =
      if (isState(p)) {
        val st = new StateDir(spark, p)
        if (st.latest.isDefined) st.sweep() else drop(p)
      } else if (hasSuccess(p)) 0
      else if (subdirs(p).exists(holdsState)) subdirs(p).map(vacuum).sum
      else drop(p)
    if (!fs.exists(base)) 0 else subdirs(base).map(vacuum).sum
  }

  /** Hive-partitioned layout + read-back, owned by this Catalog: write
    * `df` partitioned by `partCol` under `derivedDir/<name>`, rebuilt
    * on every call so the layout always reflects the current `df`, and
    * return a reader over it. A filter on `partCol`
    * against the returned frame is answered from the DIRECTORY LISTING
    * alone — `PartitionFilters` in the scan, zero non-matching files
    * opened — which is the storage-side pruning a 100 TB table lives or
    * dies by (scan cost ∝ selected partitions, not table size). */
  def partitionedLayout(df: DataFrame, name: String, partCol: String): DataFrame = {
    val dir = s"$derivedDir/$name"
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(dir)
    spark.read.parquet(dir)
  }

  /** `ls` — table names present in the base dir (file index analog). */
  def list(): Seq[String] = {
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(baseDir)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** Table `name` in the base dir, read through [[graft.Tables.load]]
    * (schema resolved once per session and file version). */
  def table(name: String): DataFrame = graft.Tables.load(spark, baseDir, name)

  def read(name: String, format: String = "parquet"): DataFrame = format match {
    case "parquet" => table(name)
    case "csv" => spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$baseDir/$name.csv")
    case "json" => spark.read.json(s"$baseDir/$name.json")
    case "text" => spark.read.text(s"$baseDir/$name.txt")
    case "orc" => spark.read.orc(s"$baseDir/$name.orc")
    case other => throw new IllegalArgumentException(s"unsupported format: $other")
  }

  /** Register every table as a temp view so `spark.sql` works directly. */
  def registerAll(): Unit =
    list().foreach(n => table(n).createOrReplaceTempView(n))

  /** Upload analog: write with bounded chunk size (chunkinator.go).
    * `maxRecordsPerFile` bounds file size without an extra shuffle;
    * `numChunks` forces an explicit chunk count via repartition (one
    * shuffle) when downstream wants uniform chunks. */
  def writeChunked(df: DataFrame, dest: String, maxRecordsPerFile: Long,
      numChunks: Option[Int] = None): Unit = {
    val out = numChunks.map(df.repartition(_)).getOrElse(df)
    out.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(dest)
  }

  /** Globally-sorted write (reference: MapReduce jobs store their
    * externally-sorted output back to the DFS): range-repartition on the
    * sort keys + per-partition sort, so file part-N holds keys ≤ every
    * key in part-N+1 and each file is internally sorted — a distributed
    * external sort whose merge step is just reading files in order.
    * Range boundaries come from reservoir sampling (one extra pass),
    * after which no worker ever holds more than its slice. */
  def writeSorted(df: DataFrame, dest: String, numFiles: Int,
      sortCols: String*): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(dest)

  /** N-column Z-ordered write (see [[Catalog.zValueN]]): each file gets
    * a contiguous Z range, so min/max footer pruning works on every one
    * of the `zCols`, not just a leading sort column. */
  def writeZOrderedN(df: DataFrame, dest: String, numFiles: Int,
      zCols: Seq[String]): Unit =
    df.withColumn("_z", Catalog.zValueN(zCols.map(col)))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(dest)

  /** ZONE MAP — a table-level min/max data-skipping index (the
    * Delta/Iceberg file-stats move, and the lakehouse complement of
    * [[writeZOrderedN]]: clustering makes per-file ranges TIGHT, the
    * zone map makes them QUERYABLE without touching a footer). One
    * scan groups the table by `input_file_name()` and records each
    * data file's min/max per stats column into a `_zonemap` sidecar
    * inside the table dir (underscore-prefixed, so data reads never
    * see it). At 100 TB the planning read is the tiny sidecar — a
    * range probe opens only the files whose [min,max] intersect it,
    * instead of every footer (a million-file table has a million
    * footers; the sidecar is one bounded table). Build cost is one
    * pass over the table, paid at write time alongside the layout
    * itself; rebuilding after a data rewrite is the caller's contract,
    * and [[scanZoneMappedN]] REFUSES a stale sidecar (file-set
    * mismatch) rather than serving from it. */
  def buildZoneMap(dest: String, statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "zone map needs at least one stats column")
    val df = spark.read.parquet(dest)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/_zonemap")
  }

  /** Range probe through the zone map: open ONLY the data files whose
    * recorded [min,max] intersects EVERY column's [lo, hi], then apply
    * the exact BETWEEN conjunction — skipping moves bytes, never
    * results (the BloomJoin discipline). One range is the plain 1-D
    * probe of a sorted layout; several are the read side of
    * [[writeZOrderedN]], where Z-clustering keeps per-file ranges tight
    * on ALL interleaved dimensions at once, so a 2-D rectangle skips
    * files neither 1-D probe could (their intersection shrinks
    * multiplicatively). Sound because min/max ignore nulls and
    * BETWEEN is null-rejecting: a file whose every value of a column
    * is null carries null stats, the intersection test is null → the
    * file skips, and no row it holds could have passed the filter; a
    * file mixing nulls with in-range values keeps non-null stats and
    * is retained. The sidecar's file set must equal the dir's current
    * data files — a rewrite without [[buildZoneMap]] fails loudly
    * here instead of silently skipping files the stats never saw.
    * The file-list collect is bounded by the table's FILE count (the
    * listing any scan pays), not its rows. */
  def scanZoneMappedN(dest: String,
      ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "rectangle probe needs at least one range")
    val zmDir = s"$dest/_zonemap"
    require(hasSuccess(new Path(zmDir)), s"no committed zone map under $dest")
    // input_file_name() and DataFrame.inputFiles render the same file
    // with different scheme spellings (file:/// vs file:/) — compare
    // scheme-independent absolute paths.
    def norm(u: String): String = new Path(u).toUri.getPath
    val zm = spark.read.parquet(zmDir)
    val current = spark.read.parquet(dest).inputFiles.map(norm).toSet
    val recorded = zm.select(col("file")).collect().map(_.getString(0))
    require(recorded.map(norm).toSet == current,
      s"zone map is stale for $dest (${recorded.length} recorded vs " +
        s"${current.size} current files) — rebuild with buildZoneMap")
    val intersects = ranges.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    val keep = zm.where(intersects)
      .select(col("file")).collect().map(_.getString(0)).sorted
    val pruned =
      if (keep.isEmpty) spark.read.parquet(dest).limit(0)
      else spark.read.parquet(keep.toIndexedSeq: _*)
    pruned.where(ranges.map { case (c, lo, hi) =>
      col(c).between(lo, hi)
    }.reduce(_ && _))
  }

  /** Bucketed managed table: co-locates rows by join key so repeated
    * joins/aggregations on that key skip the exchange entirely — the
    * bucketing IS the pre-shuffle, paid once at write time. The 100 TB
    * pattern for fact-fact joins too big to broadcast. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      numBuckets: Int): Unit = {
    // idempotent against a metastore/warehouse mismatch (e.g. a fresh
    // metastore with a leftover table directory from an aborted run).
    // The stale path is resolved FROM the metastore (actual location if
    // the table exists, its would-be default path otherwise) — a
    // name-concatenated warehouse path would miss non-default databases,
    // case-normalized names, and external tables.
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val staleLoc: java.net.URI =
      if (spark.catalog.tableExists(tableName))
        spark.sessionState.catalog.getTableMetadata(ident).location
      else spark.sessionState.catalog.defaultTablePath(ident)
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new Path(staleLoc)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Delete analog (reference: dfs/client delete → controller drops the
    * index entry and storage nodes drop chunks). Returns whether the
    * table existed. */
  def delete(name: String): Boolean = {
    val p = new Path(s"$baseDir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Download analog (reference: dfs/client/downloader.go — parallel
    * chunk fetch + single-file reassembly): parallel distributed read,
    * then a single reassembled output file. The coalesce(1) sink is a
    * deliberate 1-task bottleneck — only for taking a table OUT of the
    * cluster; cluster-to-cluster copies should stay chunked. */
  def download(name: String, destDir: String): Unit =
    table(name).coalesce(1).write.mode(SaveMode.Overwrite).parquet(destDir)

  /** All parquet data files under `p`, recursing into subdirectories so
    * hive-partitioned (nested) layouts count correctly instead of
    * silently yielding zero files. */
  private def parquetFiles(p: Path): Seq[Path] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .filterNot(_.getPath.getName.startsWith("_"))
        .flatMap { s =>
          if (s.isDirectory) parquetFiles(s.getPath)
          else Seq(s.getPath).filter(_.getName.endsWith(".parquet"))
        }
    else Seq(p)
  }

  /** Exact row count from parquet footers — no data scan. */
  def footerRowCount(p: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(p).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Cluster-stats analog (reference: dfs/storageNode/stats.go): rows +
    * bytes per table, from parquet footers ONLY — a pure metadata
    * operation like the reference's controller index lookup; no data
    * scan regardless of table size. */
  def stats(): DataFrame = {
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = list().map { n =>
      val p = new Path(s"$baseDir/$n.parquet")
      (n, footerRowCount(p), fs.getContentSummary(p).getLength)
    }
    import spark.implicits._
    rows.toDF("tbl", "n_rows", "bytes")
  }

  /** Small-file compaction — the operational inverse of the chunkinator:
    * long-lived tables accrete many small files (streaming sinks,
    * incremental appends), and file-open overhead eventually dominates
    * scans. Target file count comes from footer metadata (no scan) and
    * the rewrite uses coalesce — a narrow dependency, NO shuffle: each
    * output task concatenates a set of input partitions. Returns the
    * file count actually written (listed from dest — coalesce gives
    * uneven partitions and maxRecordsPerFile can split an oversized
    * task, so the pre-computed target is only a target). */
  def compact(src: String, dest: String, targetRecordsPerFile: Long): Int = {
    val rows = footerRowCount(new Path(src))
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    spark.read.parquet(src)
      .coalesce(nFiles)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(dest)
    parquetFiles(new Path(dest)).length
  }

  /** Oracle-friendly per-table row counts (no filesystem columns).
    * Footer metadata via [[stats]] — exact counts with zero data scanned,
    * like the reference controller answering `ls` from its index. */
  def rowCounts(): DataFrame = stats().select(col("tbl"), col("n_rows"))

  /** Per-NODE operational stats (reference: dfs/storageNode/stats.go —
    * per-node free space and request counters). On Spark the executors
    * are the storage/compute nodes; the status tracker answers the same
    * questions: where my workers are, what they are running, and how
    * much block-storage memory each holds. Pure driver-side metadata —
    * identical API on local[n] and a 1000-executor cluster. */
  def executorStats(): DataFrame = {
    import spark.implicits._
    spark.sparkContext.statusTracker.getExecutorInfos.toSeq
      .map { e =>
        (e.host, e.port, e.numRunningTasks,
          e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory,
          e.totalOnHeapStorageMemory + e.totalOffHeapStorageMemory)
      }
      .toDF("host", "port", "running_tasks", "used_storage_bytes", "total_storage_bytes")
  }
}

object Catalog {
  import org.apache.spark.sql.functions._

  /** ANALYZE-style column statistics card — the per-column profile
    * (exact NDV, null count, min/max) an optimizer's CBO or a data
    * contract check reads. One full-pass aggregate PER COLUMN (a
    * single-pass multi-`countDistinct` plans as an Expand that
    * multiplies every row by the column count — k clean scans beat one
    * k×-wide scan); min/max surface as strings for a uniform card
    * schema, so callers pass integer/string columns (float formatting
    * is engine-specific — route doubles through an exact cents cast
    * first). At 100 TB swap the exact `countDistinct` for the KMV
    * estimator ([[graft.operators.Analytics]] kmv family) — same card
    * shape, bounded state. */
  def analyzeColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(c)).as("ndv"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("ndv"),
          col("n_nulls"), col("min_val"), col("max_val"))
    }.reduce(_ unionAll _)

  /** Data-contract validation card — the Deequ/Great-Expectations
    * shape as one pass + bounded checks: per rule the VIOLATION count
    * (0 = the contract holds), so the ingest gate is one `max(n) == 0`
    * read. Three rule kinds cover the common contracts:
    * `predicate` rules count rows failing a boolean column expression
    * (null checks, ranges, regex shapes) in ONE shared scan;
    * `unique` counts surplus rows over the key's distinct count;
    * `foreignKey` counts child rows whose key misses the parent
    * (anti-join — at 100 TB broadcast when the parent is a dimension).
    * Every rule is SQL-expressible, so the whole card oracle-checks. */
  def contractCard(df: DataFrame,
      predicates: Seq[(String, Column)],
      uniqueKeys: Seq[(String, String)] = Nil,
      foreignKeys: Seq[(String, String, DataFrame, String)] = Nil): DataFrame = {
    require(predicates.nonEmpty || uniqueKeys.nonEmpty || foreignKeys.nonEmpty,
      "contractCard: no rules")
    // null predicate results count as NON-violations on both engines
    // (CASE WHEN NOT p falls through) — contracts about nullability
    // must say isNull/isNotNull explicitly
    val predCard: Option[DataFrame] =
      if (predicates.isEmpty) None
      else Some {
        // coalesce: an EMPTY batch has zero violations, not null ones
        // (sum over no rows is null — the gate must still read 0)
        val agg = df.agg(
          coalesce(sum(when(!predicates.head._2, 1L).otherwise(0L)), lit(0L))
            .as("__v0"),
          predicates.tail.zipWithIndex.map { case ((_, p), i) =>
            coalesce(sum(when(!p, 1L).otherwise(0L)), lit(0L))
              .as(s"__v${i + 1}") }: _*)
        predicates.indices.map(i => agg.select(
            lit(predicates(i)._1).as("rule"), col(s"__v$i").as("n_violations")))
          .reduce(_ unionAll _)
      }
    val uniqCards = uniqueKeys.map { case (name, key) =>
      df.agg((count(lit(1)) - countDistinct(col(key))).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }
    val fkCards = foreignKeys.map { case (name, childKey, parent, parentKey) =>
      df.select(col(childKey))
        .join(parent.select(col(parentKey).as(childKey)).distinct(),
          Seq(childKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    }
    (predCard.toSeq ++ uniqCards ++ fkCards).reduce(_ unionAll _)
  }

  /** The orders ingest-gate demo contract — the canned rule set shared
    * by the fs_contract driver row and the graft_contract TVF: three
    * predicate rules in one shared scan, a key-uniqueness rule, and a
    * customer foreign key (broadcast anti-join at dimension scale).
    * Scala callers compose their OWN rules with [[contractCard]]; this
    * is the SQL surface's one-call form. */
  def ordersContractCard(spark: SparkSession, dir: String): DataFrame =
    contractCard(graft.Tables.orders(spark, dir),
      predicates = Seq(
        "totalprice_positive" -> (col("o_totalprice") > 0),
        "status_domain" -> col("o_orderstatus").isin("F", "O", "P"),
        "orderdate_not_null" -> col("o_orderdate").isNotNull),
      uniqueKeys = Seq("orderkey_unique" -> "o_orderkey"),
      foreignKeys = Seq(("custkey_fk", "o_custkey",
        graft.Tables.customer(spark, dir), "c_custkey")))

  /** Hash-partition skew PREFLIGHT card — "will this key shuffle
    * evenly" answered before the shuffle is paid: rows bucketed by the
    * engine-portable hash mod 32, then one bounded aggregate of
    * bucket sizes with the skew ratio (max/avg — 1.0 is perfectly even;
    * feed anything ugly to `Skew.saltedJoin`). The hash is
    * `portable_hash60` (md5-prefix), so the whole card replays in any
    * engine — a diagnostic whose own numbers can't be engine artifacts. */
  def skewCard(df: DataFrame, key: Column): DataFrame = {
    import graft.functions.Exact.round6
    val nBuckets = 32
    val b = pmod(graft.operators.TextAnalysis.portableHash60(key),
      lit(nBuckets.toLong))
    df.groupBy(b.as("bucket")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_rows"),
        min(col("n")).as("min_rows"), max(col("n")).as("max_rows"),
        round6(max(col("n")).cast("double") * nBuckets / sum(col("n")))
          .as("skew_ratio"))
  }

  /** Equi-depth histogram of an integer column — the optimizer/ANALYZE
    * companion to [[analyzeColumns]]: bucket boundaries are the
    * DISCRETE k-quantiles (actual values — engine-identical; the
    * boundary for p = i/k is the smallest v with S(v)·k ≥ i·n, exactly
    * `percentile_disc`'s cume_dist rule, which is how the oracle
    * formulates it), heavy ties deterministically leave later buckets
    * empty. EVERYTHING past the first value-count aggregate runs at
    * the DISTINCT-VALUE grain: the cumulative count rides the
    * two-level `runningSum` scan and rows-per-bucket is a sum of
    * counts — one fact scan total, no `percentile_disc` collect (whose
    * single-aggregate buffer was the measured bottleneck at 10×). */
  def equiDepthHistogram(df: DataFrame, value: Column, k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 64, "equiDepthHistogram: k in [2, 64]")
    val vc = df.select(value.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("__g", lit(1))
      .localCheckpoint() // scanned by runningSum 3×, the total, the classify
    val s = graft.operators.Cumulative.runningSum(vc, Seq("__g"), "v", "cnt", "s")
    val tot = vc.agg(sum(col("cnt")).as("n"))
    val cutRows = s.crossJoin(broadcast(tot))
    val cuts = cutRows.agg(
      min(when(col("s") * k >= col("n") * 1, col("v"))).as("c1"),
      (2 until k).map(i =>
        min(when(col("s") * k >= col("n") * i, col("v"))).as(s"c$i")): _*)
    val bucket = (1 until k).foldRight(lit(k)) {
      case (i, els) => when(col("v") <= col(s"c$i"), lit(i)).otherwise(els)
    }
    vc.crossJoin(broadcast(cuts))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
  }

  /** N-column Morton/Z-value: bit `i` of column `j` (its low 16 bits)
    * lands at position `i·N + j`, the round-robin interleave (two
    * columns: the first at even positions, the second at odd). Bit
    * shifts and masks only — portable to any engine — and the
    * disjoint bit positions make `+` equal to OR, so the whole value
    * is one codegen'd arithmetic expression; 16·N bits must fit a
    * signed long. With the low 16 bits of every column riding the
    * value, a range-partitioned sort on it gives every file a
    * contiguous Z range — a hyper-rectangle-ish
    * region of the N-dim key space — so a filter on ANY of the N
    * columns prunes most files from parquet min/max footers alone,
    * which a lexicographic sort only provides for its leading column.
    * More dimensions dilute per-dimension locality (each column's bits
    * are N positions apart), so keep N to the 2–4 filter dimensions
    * that matter. */
  def zValueN(cols: Seq[Column]): Column = {
    val bits = 16
    val n = cols.length
    require(n >= 1, "zValueN needs at least one column")
    require(bits * n <= 63, s"bits ($bits) × columns ($n) must fit a signed long")
    // widen to long FIRST: with IntegerType inputs, a high bit would
    // shift past bit 31 and wrap an Int negative, breaking the
    // contiguous-Z-range property
    val longs = cols.map(_.cast("long"))
    (for {
      i <- 0 until bits
      (c, j) <- longs.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(1), i * n + j)).reduce(_ + _)
  }

  /** Apply a CDC batch LATEST-WINS-BY-SEQUENCE — [[upsert]] extended
    * with deletes and within-batch ordering, i.e. the change-log apply
    * every lakehouse MERGE runs: per key only the highest-`seqCol`
    * change counts; an upsert (`opCol` = "u") replaces/inserts the
    * row, a delete ("d") removes it. One key-partitioned rank window
    * over the (small) change batch + one anti join against base —
    * the base is never rewritten beyond the keys the batch touches.
    * PRECONDITION: (key, seq) unique and non-null within the batch
    * (ties have no defined winner — dedupe upstream). */
  def applyCdc(base: DataFrame, changes: DataFrame, key: String,
      seqCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    val upserts = latest.where(col(opCol) === "u").drop(opCol, seqCol)
    base.join(latest.select(col(key)), Seq(key), "left_anti")
      .unionByName(upserts)
  }

  /** MERGE/upsert (latest-wins): rows of `updates` replace same-key
    * rows of `base`; unmatched update rows insert. One anti join on the
    * key — hash-partitioned both sides, no full-table rewrite logic on
    * the compute side (the storage rewrite is the caller's
    * `writeChunked` or a partitioned write, which at scale should target
    * only the partitions the update keys touch). Schemas must match by
    * name (`unionByName`). PRECONDITION: update keys must be non-null
    * and unique within the batch — a null key never anti-matches (both
    * the stale base row and the update row would survive), and two
    * updates for one key both land (no within-batch ordering exists to
    * pick a winner; dedupe upstream where one is defined). */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(col(key)), Seq(key), "left_anti"))

  /** TYPE-2 HISTORY (SCD2) from a CDC change log — the third read of
    * the same change stream ([[applyCdc]] folds to current state,
    * `refreshCdcMv` keeps latest-wins durable state; this one keeps
    * EVERY version with its validity interval): each upsert at
    * sequence s opens a version valid over [s, next-change-seq); the
    * next change — upsert OR tombstone — closes it; a version nothing
    * closed is current. Tombstones close history but are not versions
    * themselves (a deleted key simply has no current row — auditable
    * deletes, same stance as the snapshot family).
    *
    * One key-partitioned `lead` window over the CHANGE LOG (change
    * grain, never fact grain) — at 100 TB the width is the number of
    * changes per key, which CDC logs bound naturally. Caller contract
    * matches [[applyCdc]]: `seqCol` unique per key. */
  def scd2History(changes: DataFrame, key: String,
      seqCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol))
    changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .where(col(opCol) === "u")
      .withColumn("valid_from", col(seqCol))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(seqCol, opCol)
  }

  /** Point-in-time read of an SCD2 history (batch [[scd2History]] or
    * the streamed [[graft.sources.Catalog!.scd2MvHistory]]): each
    * key's version valid AT sequence `at` — valid_from ≤ at <
    * valid_to, with current versions open-ended (null valid_to). The
    * time-travel query the version history exists to answer ("what
    * did this row say at t"), as one pushed-down filter — no window,
    * no join, prunable by any valid_from partitioning at 100 TB. A
    * key deleted before `at` (or born after) simply has no row. */
  def scd2AsOf(history: DataFrame, at: Column): DataFrame =
    history
      .where(col("valid_from") <= at &&
        (col("valid_to").isNull || col("valid_to") > at))
      .drop("is_current")

  /** A writable Catalog layout root for a READ-ONLY base dir: derived
    * state lands under the session's warehouse dir, namespaced by the
    * SHA-256 of the base dir's qualified path so two Catalogs over
    * different data never collide. The warehouse is the engine-owned
    * location (the analog of the reference controller's own index
    * storage) — durable across sessions, unlike a shutdown-cleaned temp
    * dir. */
  def warehouseLayoutRoot(spark: SparkSession, baseDir: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val base = new Path(baseDir)
    val qualified = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(base).toString
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$wh/graft_derived/${digest.map(b => f"$b%02x").mkString}"
  }
}
