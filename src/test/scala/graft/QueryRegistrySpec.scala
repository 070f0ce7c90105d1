package graft

import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QueryDef, QueryRegistry}

/** The query registry's contract: one name per query, the fixed declared
  * set, and the oracle set beside it; plus the build-time and codegen
  * properties of two queries the registry serves.
  */
class QueryRegistrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("a name declared twice makes registry construction throw") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      QueryRegistry.index(Seq(QueryDef("q", build, None), QueryDef("r", build, None),
        QueryDef("q", build, Some("SELECT 1"))))
    }
    assert(e.getMessage.contains("duplicate query names: q"))
  }

  test("the declared set is exactly the 262 pinned names") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    assert(names.size == 262)
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(names.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sha == "e39bc90fe2909003678d0462900885bec10f2a0f9a9ab5184369895b39665754")
  }

  test("every declared query has an oracle but the two RNG-fit ones") {
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet -- Set("m1_rf_train_predict", "m9_intercomparison"))
  }

  /** Spark jobs launched while `f` runs, counted by a SparkListener. The
    * listener bus is drained before and after (`listenerBus` is
    * private[spark], hence reflection) so no event lands in the wrong window.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try { f; drain(); started.get } finally sc.removeSparkListener(listener)
  }

  test("building association rules launches no Spark job") {
    val baskets = df("ok BIGINT, item BIGINT",
      Seq(R(1L, 10L), R(1L, 11L), R(2L, 10L), R(2L, 11L), R(3L, 12L)))
    val pairs = df("a BIGINT, b BIGINT, n_ab BIGINT", Seq(R(10L, 11L, 2L)))
    var rules: DataFrame = null
    assert(jobsDuring {
      rules = graft.llm.Graph.associationRulesFromParts(baskets, pairs, minCount = 1L)
    } == 0)
    // support = n_ab / |distinct baskets| = 2/3, lift = 2·3 / (2·2)
    val got = rules.collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(6)))
    assert(got.toSet == Set((10L, 11L, 0.666667, 1.5), (11L, 10L, 0.666667, 1.5)))
  }

  test("the per-radar centroid classifier stays on whole-stage codegen") {
    val fallbacks = new AtomicInteger
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "registry-spec-codegen", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if ((e.getLoggerName.endsWith("WholeStageCodegenExec") && msg.contains("codegen disabled")) ||
            (e.getLoggerName.endsWith("CodeGenerator") &&
              e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR)))
          fallbacks.incrementAndGet()
      }
    }
    val root = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext].getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    try {
      assert(SparkEntry.queries("j10_nearest_centroid_iso")(spark, sfDir).collect().nonEmpty)
    } finally {
      root.removeAppender(appender.getName)
      appender.stop()
    }
    assert(fallbacks.get == 0)
  }
}
