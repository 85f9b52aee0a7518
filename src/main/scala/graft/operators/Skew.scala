package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for joins whose key distribution is heavy-
  * tailed (the classic 100 TB failure mode: one hot key pins one
  * reducer).
  *
  * AQE's skew-join splitting (on in Graft.session) handles most cases at
  * runtime; saltedJoin is the explicit form for when the skew is known
  * ahead of time or AQE can't apply (e.g., aggregations after the join
  * need the salt anyway, or non-sort-merge plans).
  * [[graft.sources.Catalog.skewCard]] measures a key's shuffle skew;
  * the caller decides whether to salt.
  */
object Skew {

  /** The spreading salt: derived from row POSITION (partition id ×
    * per-partition counter via monotonically_increasing_id), never row
    * content. A content hash looks natural but defeats the whole point
    * on the commonest hot-key shape — fully identical duplicate rows
    * all hash to ONE salt and still funnel into a single reducer. The
    * position salt cycles 0..saltFactor-1 within every partition, so
    * even a partition of identical rows spreads evenly. Results never
    * depend on salt values (they're aggregated away / joined against a
    * fully-replicated side), so nondeterminism across runs — and across
    * task RETRIES — is fine: a recomputed map partition may deal
    * different salts, but every row still lands in exactly one (key,
    * salt) bucket and stage 2 / the replicated join side is salt-
    * complete, so totals are attempt-independent (Spark additionally
    * resubmits whole indeterminate stages on fetch failure). */
  private[graft] def saltColumn(saltFactor: Int) =
    pmod(monotonically_increasing_id(), lit(saltFactor.toLong))

  /** Salted inner equi-join: the left (large, skewed) side gets a
    * position-derived salt ([[saltColumn]]); the right side is
    * replicated `saltFactor` ways so every (key, salt) bucket finds its
    * match. Hot keys spread over `saltFactor` reducers at the cost of
    * replicating the right side — use when right is small-ish but too big
    * to broadcast. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt", saltColumn(saltFactor))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltFactor - 1L))))
    salted
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Two-stage salted aggregation for skewed group keys: stage 1
    * aggregates (key, salt) partials so a hot key's rows spread over
    * 8 reducers; stage 2 combines the ≤ 8 partials
    * per key. Count and integer-cents sum combine exactly, so the
    * result is identical to the unsalted aggregate under any salt —
    * which is what its oracle (a plain GROUP BY) verifies. Spark's own
    * partial aggregation usually makes this unnecessary; the explicit
    * form is for skew that survives map-side combine (many partitions
    * all feeding one hot reducer key). */
  def saltedAgg(df: DataFrame, key: String, valueCol: String): DataFrame = {
    import graft.functions.Exact.cents
    df.withColumn("__salt", saltColumn(8))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("pc"), sum(cents(col(valueCol))).as("ps"))
      .groupBy(col(key))
      .agg(sum(col("pc")).as("cnt"),
        (sum(col("ps")).cast("double") / 100.0).as("sum_value"))
  }
}
