package graft

/** Physical-plan shape assertions for the round-8 operators — the scale
  * contracts stated in the scaladocs, pinned so a refactor that silently
  * reintroduces a cartesian product or drops a broadcast fails CI, not a
  * cluster run.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("spatial grid join: blocked equi-join, never a cartesian product") {
    val p = planOf("j11_spatial_grid_join")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("skyline: per-cost contraction joins broadcast, no quadratic join") {
    val p = planOf("skyline_pareto")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("chi2 terms: vocabulary totals broadcast into the scoring join") {
    val p = planOf("text_chi2_terms")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("grouped OLS: one aggregation, no window, no join") {
    val p = planOf("a21_grouped_ols")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"))
  }

  test("AUC: the rank window runs on the contracted per-score relation") {
    val p = planOf("m13_auc_roc")
    // the window input must be an aggregate (per-score contraction), and
    // the corpus-side scan feeds an aggregate, not the window directly
    assert(p.contains("Window") &&
      (p.contains("HashAggregate") || p.contains("ObjectHashAggregate")))
    assert(!p.contains("SortMergeJoin"))
  }

  test("eventually-follows: the self-join is on the contracted firsts") {
    val p = planOf("b7_eventually_follows")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("RFM segments: threshold scoring, no single-partition NTILE window") {
    val p = planOf("b8_rfm_segments")
    // quartile thresholds are broadcast literals (exactPercentilesMulti),
    // so the per-user relation is never globally sorted
    assert(!p.contains("Window"),
      "b8_rfm_segments must not contain any window:\n" +
        p.linesIterator.take(15).mkString("\n"))
  }

  test("power users: broadcast-literal p90 threshold, no window at all") {
    val p = planOf("b9_power_users")
    // the p90 comes from exactPercentilesMulti (counting selection) and is
    // applied as a literal filter, so the per-user rollup is never
    // single-partition-sorted
    assert(!p.contains("Window"),
      "b9_power_users must not contain any window:\n" +
        p.linesIterator.take(15).mkString("\n"))
  }

  test("bucketed tables join WITHOUT a shuffle") {
    import org.apache.spark.sql.functions._
    // run the query once so the bucketed tables exist in the catalog
    SparkEntry.queries("j13_bucketed_join")(spark, sfDir).count()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_counts")
        .join(spark.table("graft_bkt_types"), Seq("user_id"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed co-located join must not shuffle:\n" +
          plan.linesIterator.take(15).mkString("\n"))
      assert(plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("global-window census: every single-partition WindowExec is a known contracted-relation site") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // The closed allowlist of intentional global windows. EVERY entry runs
    // on a relation already contracted far below the input (top-k
    // candidates, distinct key/cost/duration sets, |V|-bounded graph
    // relations, per-user rollups) — the contract each operator's scaladoc
    // states. A new query feeding a full table into an unpartitioned
    // window will fail this census instead of melting a cluster.
    val allow: Map[String, Int] = Map(
      "assoc_rules" -> 1,            // rank over the mined-rule relation
      "dq_referential" -> 1,         // rank over the k TakeOrdered survivors
                                     // (limit-k precedes the window)
      "dq_skew_profile" -> 2,        // top-k keys + k-row cumulative share
      "graph_hits" -> 1,             // rank over the |V|-bounded node set
      "graph_item_jaccard" -> 1,     // rank over >=2-support item pairs
      "graph_label_prop" -> 1,       // rank over the |V|-bounded labels
      "graph_textrank" -> 1,         // rank over the token-node relation
      "graph_triangle_count" -> 1,   // rank over per-node triangle counts
      "m13_auc_roc" -> 1,            // Mann-Whitney on distinct scores
      "sample_weighted" -> 1,        // rank over the k-bounded sample keys
      "sketch_cms_topk" -> 1,        // rank over distinct-token estimates
      "skyline_pareto" -> 1,         // running max over distinct costs
      "survival_km" -> 3,            // KM product over distinct durations
      "text_vocab_coverage" -> 1,    // rank over the vocab-bounded tokens
      "text_zipf_fit" -> 1,          // rank over the vocab-bounded tokens
      "w13_phrase_topk" -> 1,        // rank over per-doc phrase counts
      "w3_dense_rank" -> 1)          // dense ids over the distinct key set
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p0 = fn(spark, sfDir).queryExecution.executedPlan
      val p = p0 match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
      var n = 0
      p.foreach { case w: WindowExec if w.partitionSpec.isEmpty => n += 1; case _ => () }
      if (n > 0) Some(name -> n) else None
    }.toMap
    val unexpected = found.toSet -- allow.toSet
    val missing = allow.toSet -- found.toSet
    assert(unexpected.isEmpty && missing.isEmpty,
      s"global-window census drifted — new/changed: $unexpected; " +
        s"no longer present (update the allowlist): $missing")
  }

  test("dynamic partition pruning fires on a day-partitioned fact join") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Core.table(spark, sfDir, "events")
      .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
      .write.mode("overwrite").partitionBy("day").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    val dim = fact.select(col("day")).distinct()
      .filter(col("day") <= "20240103") // selective dim: 3 of ~30 partitions
    val joined = fact.join(dim, Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "day-partitioned fact join must carry a dynamic partition pruning " +
        "subquery:\n" + plan.linesIterator.take(20).mkString("\n"))
  }

  test("QPE slot: two jobs, gates broadcast over their scan, the LUT read from its cell-partitioned copy") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.qpe.Qpe
    object H extends AdaptiveSparkPlanHelper

    // the daemon's shape: a cached LUT, each slot's gates read from the spool
    val lut = QpeFixtures.lut(spark).cache()
    assert(lut.rdd.getNumPartitions >= 4)
    val spool = java.nio.file.Files.createTempDirectory("graft_qpe_plan").toString
    Seq(0 until 5, 0 until 4).zipWithIndex.foreach { case (radars, i) =>
      QpeFixtures.polar(spark, radars).write.parquet(s"$spool/slot=$i")
    }
    val gateSchema = QpeFixtures.polar(spark, Seq(0)).schema
    def slot(i: Int) = Qpe.kernelStage(
      Qpe.gridStage(spark.read.schema(gateSchema).parquet(s"$spool/slot=$i"), lut, QpeFixtures.Cfg),
      QpeFixtures.Cfg)
    slot(0) // warm: the first slot partitions the LUT by cell

    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    drain()
    sc.addSparkListener(jobListener)
    listeners.register(planListener)
    try { slot(1); drain() } finally {
      sc.removeSparkListener(jobListener)
      listeners.unregister(planListener)
    }

    assert(jobs.get == 2, s"a warm slot should start 2 jobs (gate broadcast, grid), started ${jobs.get}")
    assert(plans.size == 1)
    val plan = plans.peek()
    val shown = plan.toString
    assert(H.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the grid stage must not shuffle:\n$shown")
    val broadcasts = H.collect(plan) { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size == 1, shown)
    assert(H.find(broadcasts.head)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty,
      s"the LUT must not be broadcast:\n$shown")
    assert(H.find(broadcasts.head)(_.isInstanceOf[FileSourceScanExec]).nonEmpty,
      s"the broadcast must sit over the gate scan:\n$shown")
    assert(H.find(plan)(_.isInstanceOf[InMemoryTableScanExec]).nonEmpty, shown)
  }
}
