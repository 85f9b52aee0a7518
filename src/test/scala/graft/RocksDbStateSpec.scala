package graft

import graft.streaming.EventStream

/** RocksDB state store for the stateful replays: a deployment picks it
  * with Spark's own `spark.sql.streaming.stateStore.providerClass` on
  * its session, and the provider changes WHERE streaming state lives
  * (executor local disk, incremental-checkpointed) — never WHAT it
  * holds. Pins (a) the sessionization replay under RocksDB emits
  * exactly the default-provider multiset and (b) the run really used
  * RocksDB (its custom state metrics appear in the query's progress). */
class RocksDbStateSpec extends SparkSpec {

  private val confKey = "spark.sql.streaming.stateStore.providerClass"

  /** `body` with the session's state-store provider set to RocksDB,
    * the previous setting restored afterwards. */
  private def underRocksDb[T](body: => T): T = {
    val before = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally before match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("sessionize replay under RocksDB == default provider") {
    val rocks = underRocksDb(multiset(EventStream.sessionizeReplay(spark, sfDir)))
    val default = multiset(EventStream.sessionizeReplay(spark, sfDir))
    assert(rocks == default)
    assert(rocks.nonEmpty)
  }

  test("the RocksDB provider is actually engaged for the run") {
    // capture the provider from the query's own progress/metrics
    // surface: RocksDB reports its distinctive customMetrics
    // (rocksdbGetLatency etc.) which the default HDFS-backed provider
    // never emits
    @volatile var sawRocks = false
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.stateOperators.exists(_.customMetrics
            .keySet().toString.contains("rocksdb"))) sawRocks = true
    }
    spark.streams.addListener(listener)
    try {
      underRocksDb(EventStream.sessionizeReplay(spark, sfDir).collect())
      // progress events are async; poke until the listener saw one
      var waited = 0
      while (!sawRocks && waited < 50) { Thread.sleep(200); waited += 1 }
    } finally spark.streams.removeListener(listener)
    assert(sawRocks, "no rocksdb custom metrics in state operator progress")
  }
}
