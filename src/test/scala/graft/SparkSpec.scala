package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared spec base: one session per suite, plan-inspection helpers. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Formatted explain including PushedFilters / ReadSchema details. */
  def formattedPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution.ExplainMode
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** The executed file scans of `df` over the data files of lake
    * `root` (scans of its `_`-prefixed registry and delete dirs
    * excluded), looked up through adaptive query stages.
    */
  def lakeScans(df: DataFrame, root: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val base = new org.apache.hadoop.fs.Path(root).toUri.getPath
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths.forall { p =>
      val path = p.toUri.getPath
      path.startsWith(base) && !path.stripPrefix(base).startsWith("/_")
    })
  }

  /** Collect `df`, then return how many files of lake `root` its scans
    * opened (the scans' `numFiles` metric, summed).
    */
  def lakeFilesRead(df: DataFrame, root: String): Long = {
    df.collect()
    lakeScans(df, root).map(_.metrics("numFiles").value).sum
  }
}
