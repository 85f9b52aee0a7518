package graft

import org.apache.spark.sql.functions._
import graft.functions.TopKAggregate
import graft.operators.Analytics

class TopKAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("topk agrees with the window route per customer") {
    val orders = Tables.orders(spark, sfDir)
    val viaAgg = orders.groupBy($"o_custkey")
      .agg(TopKAggregate.topk($"o_totalprice", 3).as("top3"))
      .select($"o_custkey", $"top3")
      .as[(Long, Seq[Double])].collect().toMap
    val viaWindow = Analytics.topOrdersPerCustomer(orders, 3)
      .select($"o_custkey", $"o_totalprice", $"rnk").collect()
      .groupBy(_.getAs[Long]("o_custkey"))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("o_totalprice")).toSeq
      }
    assert(viaAgg.keySet == viaWindow.keySet)
    viaAgg.foreach { case (k, top) => assert(top == viaWindow(k)) }
  }

  test("topk partial aggregation caps the buffer (ObjectHashAggregate)") {
    val plan = Tables.orders(spark, sfDir).groupBy($"o_custkey")
      .agg(TopKAggregate.topk($"o_totalprice", 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
  }
}
