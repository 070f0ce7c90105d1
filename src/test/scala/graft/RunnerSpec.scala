package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Runner]] times the plan Verify checks: the full result into a sink,
  * never the pruned plan of a `count()`.
  */
class RunnerSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** The executed plan of the last action `f` runs. */
  private def lastPlan(f: => Unit): SparkPlan = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    drain()
    listeners.register(listener)
    try { f; drain() } finally listeners.unregister(listener)
    plans.asScala.last
  }

  private def build(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def runInto(name: String, sink: DataFrame => Unit): SparkPlan =
    lastPlan(assert(Runner.run(spark, name, build(name), sink) > 0))

  private def parquetSink(name: String): DataFrame => Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_runner").resolve(name).toString
    Core.writeResult(_, out)
  }

  /** Node names below the sink's writer node, without the AQE wrappers
    * whose place depends on where the sink sits.
    */
  private def belowSink(p: SparkPlan, writer: String): Seq[String] =
    collect(p) { case n => n.nodeName }.dropWhile(_ != writer).drop(1)
      .filterNot(Set("AdaptiveSparkPlan", "ResultQueryStage"))

  private def readSchemas(p: SparkPlan): Seq[Seq[String]] =
    collect(p) { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }

  test("top-level ORDER BY: the noop run keeps the Sort and runs the parquet sink's plan") {
    val noop = runInto("q1_pricing_summary", Runner.noop)
    val parquet = runInto("q1_pricing_summary", parquetSink("q1_pricing_summary"))
    val timed = belowSink(noop, "OverwriteByExpression")
    assert(collect(noop) { case n if n.nodeName == "Sort" => n }.nonEmpty, noop.toString)
    assert(timed.nonEmpty && timed == belowSink(parquet, "WriteFiles"), s"$noop\n$parquet")
  }

  test("pruned columns: the noop scan reads what the parquet sink reads, more than count()") {
    val noop = readSchemas(runInto("f6_zphi_attenuation", Runner.noop))
    val parquet = readSchemas(runInto("f6_zphi_attenuation", parquetSink("f6_zphi_attenuation")))
    val counted = readSchemas(lastPlan(build("f6_zphi_attenuation").count()))
    assert(noop.nonEmpty && noop == parquet)
    assert(noop.map(_.size).sum > counted.map(_.size).sum, s"noop $noop vs count $counted")
  }

  test("a build that throws returns -1 and leaves no job group set") {
    val t = Runner.run(spark, "boom", throw new IllegalStateException("boom"), Runner.noop)
    assert(t == -1.0)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("every job of a run, build-time jobs included, runs under job group `name`") {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    drain()
    sc.addSparkListener(listener)
    try {
      assert(Runner.run(spark, "b8_rfm_segments", build("b8_rfm_segments"), Runner.noop) > 0)
      drain()
    } finally sc.removeSparkListener(listener)
    // the checkpoint, the count and the percentile passes run while building
    assert(groups.size > 1, groups)
    assert(groups.asScala.toSet == Set("b8_rfm_segments"), groups)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }
}
