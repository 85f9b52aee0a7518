package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.Catalog

/** `fs_partition_prune` reads orders through `Catalog.partitionedLayout`
  * under the warehouse layout root, which outlives the session. The
  * layout must follow its input: after `orders` is rewritten, the entry
  * answers from the new rows, not from the layout the first run left. */
class PartitionedLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("fs_partition_prune follows a rewritten orders table") {
    val dir = tempDir("graft-layout").toString
    Files.list(Paths.get(sfDir)).forEach(p => Files.copy(p, Paths.get(dir, p.getFileName.toString)))
    val entry = SparkEntry.queries("fs_partition_prune")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"o_orderpriority", $"cnt", $"sum_price")
        .as[(String, Long, Double)].collect().toSet
    def expected = rows(Tables.orders(spark, dir)
      .where($"o_orderstatus" === "F")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0")
          .as("sum_price")))
    try {
      val first = rows(entry(spark, dir))
      assert(first == expected && first.nonEmpty)

      // rewrite orders: drop a third of the rows and double every price
      val rewritten = spark.read.parquet(s"$sfDir/orders.parquet")
        .where($"o_orderkey" % 3 =!= 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2)
        .collect()
      val schema = spark.read.parquet(s"$sfDir/orders.parquet").schema
      Files.delete(Paths.get(dir, "orders.parquet"))
      spark.createDataFrame(java.util.Arrays.asList(rewritten: _*), schema)
        .coalesce(1).write.parquet(s"$dir/orders.parquet")

      val second = rows(entry(spark, dir))
      assert(second != first)
      assert(second == expected)
    } finally {
      new Catalog(spark, dir, Some(Catalog.warehouseLayoutRoot(spark, dir)))
        .dropDerived("orders_by_status")
    }
  }

  test("warehouseLayoutRoot keeps base dirs whose String hash codes collide apart") {
    assert("/data/Aa".hashCode == "/data/BB".hashCode)
    assert(Catalog.warehouseLayoutRoot(spark, "/data/Aa") !=
      Catalog.warehouseLayoutRoot(spark, "/data/BB"))
    assert(Catalog.warehouseLayoutRoot(spark, "/data/Aa") ==
      Catalog.warehouseLayoutRoot(spark, "/data/Aa"))
  }
}
