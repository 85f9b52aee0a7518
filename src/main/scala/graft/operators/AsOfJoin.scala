package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of joins over the events table: for each purchase, the latest
  * view of the same user at-or-before it, and the forward mirror (for
  * each view, the next purchase at-or-after it).
  *
  * Spark has no built-in as-of join; rather than a custom SparkPlan,
  * each join is ONE window over (user_id, ts) on the filtered events,
  * carrying a running max (or min, scanning descending) of the other
  * side's timestamp. Total cost is a single shuffle on the key, the
  * same lower bound a dedicated sort-merge as-of operator would pay,
  * and it inherits AQE/skew handling for free.
  */
object AsOfJoin {

  /** Attribution query: each purchase event gets the timestamp of the
    * user's most recent view at-or-before it (epoch µs; null when no
    * prior view). One shuffle on user_id. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val u = events
      .where(col("event_type").isin("view", "purchase"))
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("tsu"),
        when(col("event_type") === "view", unix_micros(col("ts"))).as("view_ts"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"),
        when(col("event_type") === "view", 0).otherwise(1).as("ord"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("last_view_us", max(col("view_ts")).over(w))
      .where(col("is_p") === 1)
      .select(col("user_id"), col("tsu").as("purchase_us"), col("last_view_us"))
  }

  /** [[purchaseAttribution]] with a STALENESS TOLERANCE (pandas
    * `merge_asof(tolerance=…)` semantics): a prior view counts only if
    * it is within an hour of the purchase; staler matches become
    * NULL, exactly like no-match. Same single-shuffle running-max plan
    * — the tolerance is one extra map-side conditional on the carried
    * value, not a second window or join. */
  def purchaseAttributionTol(events: DataFrame): DataFrame =
    purchaseAttribution(events)
      .select(col("user_id"), col("purchase_us"),
        when(col("last_view_us") >= col("purchase_us") - 3600L * 1000000L,
          col("last_view_us")).as("last_view_us"))

  /** Forward attribution: each view gets the timestamp of the user's
    * NEXT purchase at-or-after it (time-to-conversion's raw material).
    * Descending scan + running min — still one shuffle on user_id. */
  def viewNextPurchase(events: DataFrame): DataFrame = {
    val u = events
      .where(col("event_type").isin("view", "purchase"))
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("tsu"),
        when(col("event_type") === "purchase", unix_micros(col("ts"))).as("p_ts"),
        when(col("event_type") === "view", 1).otherwise(0).as("is_v"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("ord"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu").desc, col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("next_purchase_us", min(col("p_ts")).over(w))
      .where(col("is_v") === 1)
      .select(col("user_id"), col("tsu").as("view_us"), col("next_purchase_us"))
  }
}
