package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Analytics, Events, TextAnalysis}

/** Empty-input tolerance for the round-7b family: every operator must
  * PLAN and RUN on a zero-row input without throwing (a 3am backfill
  * over an empty partition must not page anyone), returning either an
  * empty frame or a well-defined all-aggregate row.
  */
class Round7bEmptyInputSpec extends SparkSpec {

  private def empty(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private val orders = empty("o_custkey" -> LongType,
    "o_orderkey" -> LongType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampType, "o_orderstatus" -> StringType,
    "o_orderpriority" -> StringType)
  private val events = empty("event_id" -> LongType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType,
    "ts" -> TimestampType)
  private val lineitem = empty("l_orderkey" -> LongType,
    "l_partkey" -> LongType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_quantity" -> DoubleType,
    "l_returnflag" -> StringType)
  private val docs = empty("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType)

  test("round-7b operators tolerate zero-row inputs") {
    assert(Analytics.abcClassification(lineitem).count() == 0)
    assert(Analytics.lorenzDeciles(orders).count() == 0)
    assert(Analytics.benfordCard(orders).count() == 0)
    assert(Analytics.rfmSegments(orders).count() == 0)
    assert(Analytics.basketRules(lineitem).count() == 0)
    assert(Analytics.weightedMedian(lineitem).count() == 0)
    assert(Analytics.cohortLtv(orders).count() == 0)
    assert(Analytics.newVsRepeat(orders).count() == 0)
    assert(Events.cusumChangePoint(events).count() == 0)
    assert(Events.peakCensus(events).count() == 0)
    assert(Events.runsTest(events).count() == 0)
    assert(Events.matchEpisodes(events).count() == 0)
    assert(Events.deseasonOutliers(events).count() == 0)
    assert(Events.growthAccounting(events).count() == 0)
    assert(Events.stickiness(events).count() == 0)
    assert(Events.forecastBacktest(events).count() == 0)
    assert(Events.peakConcurrency(events).count() == 1) // all-agg row
    assert(TextAnalysis.sourceDiversity(docs).count() == 0)
    assert(TextAnalysis.sourceOverlap(docs).count() == 0)
    assert(TextAnalysis.langProfile(docs).count() == 0)
    // all-aggregate cards emit their single row with zero/null stats
    assert(TextAnalysis.datasheet(docs).count() == 10)
    val gaps = Analytics.reorderGaps(orders).collect()
    assert(gaps.length == 1 && gaps.head.getLong(0) == 0L)
    val funnel = Events.funnelRates(events).collect()
    assert(funnel.length == 4 && funnel.forall(_.getLong(2) == 0L))
    assert(graft.sources.Catalog.contractCard(orders,
      predicates = Seq("p" -> (col("o_totalprice") > 0)),
      uniqueKeys = Seq("u" -> "o_orderkey")).collect()
      .forall(_.getLong(1) == 0L))
    assert(graft.sources.Catalog.skewCard(orders, col("o_orderkey"))
      .collect().head.getLong(0) == 0L) // zero buckets; sums null
    assert(graft.sources.Catalog.equiDepthHistogram(orders,
      col("o_orderkey")).count() == 0)
  }
}
