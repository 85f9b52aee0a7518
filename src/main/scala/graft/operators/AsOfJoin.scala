package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row with the same key
  * whose timestamp is at-or-before the left row's timestamp.
  *
  * Spark has no built-in as-of join; rather than a custom SparkPlan,
  * this composes exchange-friendly primitives: tag and union both
  * sides (cheap, no shuffle), then ONE window over (key, ts) carrying a
  * running `max(struct(right_ts, payload))` — lexicographic struct max ==
  * "latest right row so far". Total cost is a single shuffle on the key,
  * the same lower bound a dedicated sort-merge as-of operator would pay,
  * and it inherits AQE/skew handling for free.
  */
object AsOfJoin {

  /** Left rows gain `asof_<payloadCol>` columns from the latest right row
    * at-or-before their timestamp (per key). Right rows at exactly the
    * left timestamp are included. */
  def asOf(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__ord", lit(1))
      .withColumn("__carry", lit(null).cast(carryType(right, rightTs, payload)))
    val rTagged = right
      .select((key +: rightTs +: payload).map(col): _*)
      .withColumn("__ts", col(rightTs))
      .withColumn("__ord", lit(0))
      .withColumn("__carry", struct((rightTs +: payload).map(col): _*))
    val unioned = lTagged.select(unionCols(left, key, payload): _*)
      .unionByName(rTagged.select(unionCols(right, key, payload, rightOnly = true): _*),
        allowMissingColumns = true)

    val w = Window.partitionBy(col(key)).orderBy(col("__ts"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__last", max(col("__carry")).over(w))
    val out = carried
      .where(col("__ord") === 1)
      .drop("__ts", "__ord", "__carry")
    payload.foldLeft(out) { (df, p) =>
      df.withColumn(s"asof_$p", col("__last").getField(p))
    }.drop("__last")
  }

  /** Forward as-of: the EARLIEST right row at-or-after each left row's
    * timestamp (per key) — "next event" attribution. Same tagged-union
    * single-shuffle shape as [[asOf]], scanning descending with a
    * running lexicographic struct MIN (earliest right row so far from
    * the future side); right rows at exactly the left timestamp are
    * included. Columns arrive as `asofnext_<payload>`. */
  def asOfForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__ord", lit(1))
      .withColumn("__carry", lit(null).cast(carryType(right, rightTs, payload)))
    val rTagged = right
      .select((key +: rightTs +: payload).map(col): _*)
      .withColumn("__ts", col(rightTs))
      .withColumn("__ord", lit(0))
      .withColumn("__carry", struct((rightTs +: payload).map(col): _*))
    val unioned = lTagged.select(unionCols(left, key, payload): _*)
      .unionByName(rTagged.select(unionCols(right, key, payload, rightOnly = true): _*),
        allowMissingColumns = true)

    val w = Window.partitionBy(col(key)).orderBy(col("__ts").desc, col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__next", min(col("__carry")).over(w))
    val out = carried
      .where(col("__ord") === 1)
      .drop("__ts", "__ord", "__carry")
    payload.foldLeft(out) { (df, p) =>
      df.withColumn(s"asofnext_$p", col("__next").getField(p))
    }.drop("__next")
  }

  /** [[asOf]] planned as the FIRST-CLASS physical operator
    * ([[graft.plans.AsOfJoinExec]]): same semantics, same single
    * co-partitioning exchange, but the merge is a single streaming pass
    * per partition instead of a window carry — no per-row struct max,
    * no window frame state. Requires integral key/timestamp columns.
    * Output: left columns + `asof_<payloadCol>` columns. */
  def asOfExec(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    execJoin(left, right, key, leftTs, rightTs, payload, forward = false)

  /** [[asOfForward]] planned as the custom physical operator: earliest
    * right row at-or-after each left timestamp; columns arrive as
    * `asofnext_<payload>`. */
  def asOfExecForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    execJoin(left, right, key, leftTs, rightTs, payload, forward = true)

  private def execJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String],
      forward: Boolean): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    require(integral.contains(left.schema(key).dataType) &&
      integral.contains(left.schema(leftTs).dataType) &&
      integral.contains(right.schema(rightTs).dataType),
      "asOfExec needs integral key and timestamp columns (epoch micros)")
    // the key must be the SAME type on both sides: hash partitioning is
    // type-sensitive (hashInt(5) != hashLong(5)), so an Int/Long pair
    // would co-partition nothing and silently emit all-null matches
    require(left.schema(key).dataType == right.schema(key).dataType,
      s"asOfExec key '$key' must have the same type on both sides " +
        s"(${left.schema(key).dataType} vs ${right.schema(key).dataType})")
    // null keys/timestamps are dropped from both sides (documented
    // divergence from the window composition, which groups null==null):
    // a null timestamp cannot satisfy any as-of bound, and null keys
    // joining each other is never the analytic intent
    val lPlan = Bridge.analyzed(
      left.where(left.col(key).isNotNull && left.col(leftTs).isNotNull))
    // re-alias every right column: aliases mint fresh exprIds, so a
    // right side sharing lineage with the left (the self-join shape —
    // built-in joins get DeduplicateRelations for this, custom nodes
    // don't) can never collide with left attribute ids
    val rPlan = Bridge.analyzed(
      right.where(right.col(key).isNotNull && right.col(rightTs).isNotNull)
        .select(right.columns.map(c => right.col(c).as(c)).toIndexedSeq: _*))
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = p.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"as-of column '$name' not found"))
    val rPayload = payload.map(attr(rPlan, _))
    val prefix = if (forward) "asofnext_" else "asof_"
    val asofOut = rPayload.map(a =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"$prefix${a.name}", a.dataType, nullable = true)())
    Bridge.ofRows(left.sparkSession,
      graft.plans.AsOfJoinNode(lPlan, rPlan,
        attr(lPlan, key), attr(rPlan, key), attr(lPlan, leftTs),
        attr(rPlan, rightTs), rPayload, asofOut, forward))
  }

  /** [[purchaseAttribution]] computed by the custom physical as-of
    * operator — same output schema and oracle. */
  def purchaseAttributionExec(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("purchase_us"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("tsu").as("view_us"))
    asOfExec(purchases, views, "user_id", "purchase_us", "view_us", Seq("view_us"))
      .select(col("user_id"), col("purchase_us"),
        col("asof_view_us").as("last_view_us"))
  }

  /** [[viewNextPurchase]] computed by the custom physical operator in
    * FORWARD mode — same output schema and oracle. */
  def viewNextPurchaseExec(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("tsu").as("view_us"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("p_us"))
    asOfExecForward(views, purchases, "user_id", "view_us", "p_us", Seq("p_us"))
      .select(col("user_id"), col("view_us"),
        col("asofnext_p_us").as("next_purchase_us"))
  }

  private def carryType(right: DataFrame, rightTs: String, payload: Seq[String]) =
    org.apache.spark.sql.types.StructType(
      (rightTs +: payload).map(c => right.schema(c)))

  private def unionCols(df: DataFrame, key: String, payload: Seq[String],
      rightOnly: Boolean = false): Seq[Column] =
    if (rightOnly) Seq(col(key), col("__ts"), col("__ord"), col("__carry"))
    else df.columns.filterNot(Set("__ts", "__ord", "__carry")).map(col).toSeq ++
      Seq(col("__ts"), col("__ord"), col("__carry"))

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
