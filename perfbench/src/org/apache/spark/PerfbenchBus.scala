package org.apache.spark

/** Drain Spark's listener bus so every event of the finished work has
  * reached the benchmark's listeners before their counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
