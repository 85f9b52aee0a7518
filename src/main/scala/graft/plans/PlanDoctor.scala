package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, And}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, EventTimeWatermark, FlatMapGroupsWithState, Join}
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** USER-FACING plan linter — the pre-commit plan audit
  * (PlanAuditSpec's scale-killer sweep) packaged as a library call, so
  * a pipeline author gets the same "will this survive 100×" review on
  * THEIR query before it ships: `PlanDoctor.lint(df)` (or the Shell's
  * `doctor <sql>`) plans the frame — nothing is executed — and returns
  * one row per finding.
  *
  * Rules (severity `error` = degrades super-linearly with data size,
  * `warn` = legitimate only for bounded/metadata inputs — the audit
  * spec's allow-list classes):
  *
  *  - `cartesian_product` (error): an equi-join lost its keys; O(n·m)
  *    at any scale.
  *  - `broadcast_nested_loop` (warn): fine when the broadcast side is
  *    a 1-row aggregate or a bounded query set (the documented
  *    classes); anywhere else it is the cartesian cliff wearing a
  *    broadcast.
  *  - `unpartitioned_window` (error): every row through ONE task —
  *    the single-reducer cliff. Allowed only for provably bounded
  *    frames (the two-level prefix-sum's ≤128-row offset window).
  *  - `single_partition_exchange` (warn): a global sort/limit/
  *    coalesce(1) funnels the plan through one task; fine for tiny
  *    outputs, fatal mid-pipeline.
  *  - `unfiltered_wide_scan` (info): a parquet scan with neither
  *    pushed filters nor partition filters reading a wide schema —
  *    the "did you mean to read everything" nudge (legitimate for
  *    genuine full-corpus passes).
  *
  * STREAMING frames (df.isStreaming — these cannot be physically
  * planned outside writeStream.start(), so the lint reads the analyzed
  * plan) get the unbounded-STATE rules instead, the streaming
  * scale-killers: state that only grows is the batch single-reducer
  * cliff stretched over time.
  *
  *  - `stateful_no_watermark` (error): a stateful operator
  *    (aggregation / dropDuplicates / stream-stream join /
  *    [flat]mapGroupsWithState) with no watermark anywhere in the
  *    plan — nothing ever tells the store it may forget.
  *  - `stream_stream_join_unbounded` (error): a stream-stream join
  *    whose condition carries no time-range conjunct — even
  *    watermarked, per-key join state never expires (Spark only
  *    evicts rows a range constraint provably excludes).
  *  - `stateful_no_timeout` (warn): [flat]mapGroupsWithState with
  *    NoTimeout — state lives until the function removes it;
  *    legitimate exactly when keys are a bounded population (the
  *    dimension size class, e.g. the episode matcher's per-user two
  *    longs), fatal when keys grow with the stream.
  *
  * (A `collect`-backed or memory sink is the remaining streaming
  * killer, but sinks live on the writer, not the frame — out of a
  * frame lint's sight.)
  *
  * The detection primitives are shared with the pre-commit audit
  * (same strings, same regex), so the library lint and the repo gate
  * can never drift. */
object PlanDoctor {

  /** True when a rendered physical plan contains a cartesian product
    * (the whole-surface audit renders each plan once and runs every
    * check against the string). */
  private[graft] def hasCartesianPlan(sparkPlan: String): Boolean =
    sparkPlan.contains("CartesianProduct")

  /** True when a rendered physical plan contains a broadcast nested
    * loop join. */
  private[graft] def hasBnljPlan(sparkPlan: String): Boolean =
    sparkPlan.contains("BroadcastNestedLoopJoin")

  /** True when any window spec in the optimized plan has no partition
    * expressions (first spec argument is already a sort order). */
  def hasUnpartitionedWindow(df: DataFrame): Boolean =
    hasUnpartitionedWindowPlan(df.queryExecution.optimizedPlan.toString)

  private[graft] def hasUnpartitionedWindowPlan(optimizedPlan: String): Boolean =
    windowSpecs(optimizedPlan)
      .exists(_.split(",").head.trim.matches(".*\\b(ASC|DESC)\\b.*"))

  private[graft] def windowSpecs(optimizedPlan: String): Seq[String] =
    "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(optimizedPlan).map(_.group(1)).toSeq

  /** Streaming-frame findings over the ANALYZED plan (a streaming
    * frame has no physical plan until start()). */
  private def streamingFindings(df: DataFrame): List[(String, String, String)] = {
    val plan = df.queryExecution.analyzed
    val findings = scala.collection.mutable.ListBuffer[(String, String, String)]()
    val hasWm = plan.collectFirst { case w: EventTimeWatermark => w }.isDefined
    val stateful = plan.collect {
      case a: Aggregate if a.isStreaming => "aggregation"
      case d: Deduplicate if d.isStreaming => "dropDuplicates"
      case f: FlatMapGroupsWithState if f.isStreaming => "mapGroupsWithState"
      case j: Join if j.left.isStreaming && j.right.isStreaming =>
        "stream-stream join"
    }
    if (stateful.nonEmpty && !hasWm)
      findings += (("stateful_no_watermark", "error",
        s"streaming ${stateful.distinct.mkString("/")} with no watermark: " +
          "state can only grow - nothing ever tells the store to forget"))
    val ssJoinsUnbounded = plan.collect {
      case j: Join if j.left.isStreaming && j.right.isStreaming &&
          !j.condition.exists(hasRangeConjunct) => j
    }
    if (ssJoinsUnbounded.nonEmpty)
      findings += (("stream_stream_join_unbounded", "error",
        "stream-stream join without a time-range conjunct: per-key join " +
          "state never expires, even under a watermark - add an " +
          "event-time bound (the purchaseViewJoinReplay shape)"))
    val noTimeout = plan.collect {
      case f: FlatMapGroupsWithState
          if f.isStreaming && f.timeout == GroupStateTimeout.NoTimeout => f
    }
    if (noTimeout.nonEmpty)
      findings += (("stateful_no_timeout", "warn",
        "mapGroupsWithState with NoTimeout: state lives until the " +
          "function removes it - fine only for bounded key populations " +
          "(dimension class), fatal when keys grow with the stream"))
    findings.toList
  }

  private def hasRangeConjunct(cond: Expression): Boolean = cond match {
    case And(a, b) => hasRangeConjunct(a) || hasRangeConjunct(b)
    case _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case _ => false
  }

  /** Lint `df`'s plans (analysis + planning only; never executes).
    * Returns (rule, severity, detail) rows, empty when clean. */
  def lint(df: DataFrame): DataFrame = {
    if (df.isStreaming)
      return toDf(df.sparkSession, streamingFindings(df).distinct)
    val physical = df.queryExecution.sparkPlan.toString
    val executed = df.queryExecution.executedPlan.toString
    val findings = scala.collection.mutable.ListBuffer[(String, String, String)]()

    if (physical.contains("CartesianProduct"))
      findings += (("cartesian_product", "error",
        "join without keys: O(left x right) rows at any scale"))

    if (physical.contains("BroadcastNestedLoopJoin"))
      findings += (("broadcast_nested_loop", "warn",
        "keyless broadcast join: fine only when the broadcast side is " +
          "bounded metadata (1-row aggregate / small query set)"))

    if (hasUnpartitionedWindow(df))
      findings += (("unpartitioned_window", "error",
        "window with no PARTITION BY: all rows through one task"))

    if (executed.contains("Exchange SinglePartition"))
      findings += (("single_partition_exchange", "warn",
        "global sort/limit/coalesce(1): one task carries the full input"))

    // scans with no pushed-down filters AND a wide projection: the
    // executed-plan scan line carries the output column list and
    // PushedFilters (ReadSchema truncates, the bracket list doesn't
    // until maxToStringFields — "more fields" marks that case)
    val scanRe = ("FileScan parquet \\[([^\\]]*)\\][^\\n]*").r
    scanRe.findAllMatchIn(executed).foreach { m =>
      val line = m.matched
      val noPush = line.contains("PushedFilters: []")
      val cols = m.group(1)
      val wide = cols.split(",").length >= 8 || cols.contains("more fields")
      if (noPush && wide)
        findings += (("unfiltered_wide_scan", "info",
          "parquet scan with no pushed filters reading 8+ columns - " +
            "intended full pass, or a missed filter/projection?"))
    }

    toDf(df.sparkSession, findings.toList.distinct)
  }

  private def toDf(spark: SparkSession,
      rows: List[(String, String, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (r, s, d) => Row(r, s, d) }, 1),
      StructType(Seq(StructField("rule", StringType, nullable = false),
        StructField("severity", StringType, nullable = false),
        StructField("detail", StringType, nullable = false))))
}
