package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The fully-prepared physical plan — under AQE the implicit
    * exchanges (EnsureRequirements) only exist inside the adaptive
    * wrapper's plan; `queryExecution.sparkPlan` predates them, so plan
    * guards that collect `ShuffleExchangeExec` from it match nothing
    * and pass vacuously.
    */
  def preparedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
}

object SparkSpec {
  /** The shipped session at 4 cores, with a warehouse that goes at exit. */
  lazy val session: SparkSession = Sessions.local(4,
    Seq("spark.sql.warehouse.dir" -> tempDir("graft-wh").toString))

  /** A fresh temp directory, deleted with its contents at JVM exit. */
  def tempDir(prefix: String): java.nio.file.Path =
    Caches.tempDirDeletedAtExit(prefix)
}
