package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory tuned for the target deployment.
  *
  * Local testing runs `local[32]`; the settings below are the ones that
  * matter identically on a 1000-executor cluster: AQE (runtime re-plan +
  * skew-join splitting), a real broadcast threshold so dimension tables
  * never shuffle, and partition counts sized to the data rather than
  * Spark's 200 default.
  */
object Graft {
  def session(
      master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"),
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // runtime Bloom-filter join pruning: when a selective filter sits on
      // one join side, inject a bloom filter into the other side's scan —
      // at 100 TB this skips fact row-groups that can't match (off by
      // default in Spark; costs one small aggregate on the build side)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet timestamp[us] WITHOUT isAdjustedToUTC would otherwise be
      // inferred as TIMESTAMP_NTZ, which `withWatermark` / `unix_micros`
      // reject at analysis time; read it as TIMESTAMP (exact under the UTC
      // session tz above). Also covers streaming file-source schema
      // inference, where Tables.normalizeTs never runs.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // aggregate sketches for SQL users (scalar natives — cosine_sim,
    // dot_product, nearest_cells, hit_count — register via
    // GraftExtensions; udaf-backed aggregates go through the UDF registry)
    import org.apache.spark.sql.functions.udaf
    spark.udf.register("topk", udaf(functions.TopKAggregate.TopK(3)))
    spark.udf.register("kmv64", udaf(functions.KmvSketch.Kmv(64)))
    spark.udf.register("bottomk256", udaf(functions.BottomKSample.BottomK(256)))
    spark
  }
}
