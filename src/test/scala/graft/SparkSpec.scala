package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** The spec scale factor and session, defined once for every suite
  * and for [[TestSurface]]. */
object SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  /** The shared local session. `getOrCreate` hands every later caller
    * the session the FIRST caller built, with that caller's config, so
    * the master and shuffle width live only here. */
  def session(): SparkSession = Graft.session(master = "local[4]", shufflePartitions = 4)
}

/** Shared local session for specs (reused across suites via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()
  val sfDir: String = SparkSpec.sfDir

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory named `<prefix><random>`, deleted with
    * everything under it when the suite has run. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally s.close()
    }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally tempDirs.forEach(p => deleteTree(p))

  /** Executed-plan text with the `Tables.spread` input repartition
    * lines removed. The map-only / no-shuffle contracts in the specs
    * are about an OPERATOR's shape; the small-input spread
    * (`REPARTITION_BY_NUM`, self-disabling at scale — see
    * `Tables.spread`) is input layout, not operator cost, so it is
    * excluded from those assertions. */
  def opPlan(df: org.apache.spark.sql.DataFrame): String =
    stripSpread(df.queryExecution.executedPlan.toString)

  /** [[opPlan]] for an already-rendered plan string. */
  def stripSpread(plan: String): String =
    plan.linesIterator
      .filterNot(_.contains("REPARTITION_BY_NUM"))
      .mkString("\n")

  /** `df.opPlanString` — drop-in for the old
    * `df.queryExecution.executedPlan.toString` in plan-shape specs. */
  implicit class PlanStringOps(private val df: org.apache.spark.sql.DataFrame) {
    def opPlanString: String = opPlan(df)
  }
}
