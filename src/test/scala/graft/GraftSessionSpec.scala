package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinExec

/** Every graft session carries [[graft.plans.GraftExtensions]] through
  * [[Core.ExtensionsConf]], so no query installs a planner piece itself.
  * The checks run in `newSession()` siblings where other specs' hand
  * registrations on the shared session could mask a missing extension.
  */
class GraftSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("j7_asof_join_exec plans AsOfJoinExec and leaves extraStrategies unchanged") {
    val sibling = spark.newSession()
    val before = sibling.experimental.extraStrategies
    val out = SparkEntry.queries("j7_asof_join_exec")(sibling, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    assert(collect(out.queryExecution.executedPlan) { case j: AsOfJoinExec => j }.nonEmpty)
    assert(sibling.experimental.extraStrategies == before)
  }

  test("a sibling session resolves array_dot with no registration") {
    val sibling = spark.newSession()
    assert(sibling.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0) == 11.0)
  }

  test("unix_timestamp(ts) >= literal reaches the parquet scan's PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pushdown").resolve("t").toString
    df("ts TIMESTAMP, v INT", Seq(
      R(Timestamp.valueOf("2024-01-04 23:59:59"), 1),
      R(Timestamp.valueOf("2024-01-05 00:00:00"), 2))).write.parquet(dir)
    val q = spark.read.parquet(dir).filter(unix_timestamp(col("ts")) >= 1704412800L)
    assert(q.collect().map(_.getInt(1)).toSeq == Seq(2))
    val pushed = collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }
    assert(pushed.exists(_.contains("GreaterThanOrEqual(ts,")), pushed)
  }
}
