package graft

/** ONE shared construction of every driver entry at the spec scale
  * factor. The whole-surface suites (the three plan audits and the
  * non-empty smoke) each built all ~300 entries from scratch — and a
  * streaming-replay entry RUNS its replay when its frame is built — so
  * four independent passes cost ~10 minutes of the driver's test
  * budget. The frames and their plan strings are built once here and
  * shared; every assertion stays in its own suite. */
object TestSurface {
  lazy val frames: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val spark = SparkSpec.session()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (n, fn) => n -> fn(spark, SparkSpec.sfDir) }
  }

  lazy val sparkPlans: Seq[(String, String)] =
    frames.map { case (n, df) => n -> df.queryExecution.sparkPlan.toString }

  lazy val optimizedPlans: Seq[(String, String)] =
    frames.map { case (n, df) => n -> df.queryExecution.optimizedPlan.toString }
}
