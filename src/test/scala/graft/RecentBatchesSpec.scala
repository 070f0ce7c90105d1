package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Edge-case unit coverage for the round-8 batch 38-40 query shapes that
  * are otherwise gated only through their DuckDB oracles — the behaviors
  * a refactor could silently change between oracle runs.
  */
class RecentBatchesSpec extends SparkSpec {

  private def ts(m: Int): Timestamp = new Timestamp(m * 60000L)

  test("TWAP weights hold-until-next: a long-held value dominates") {
    // user 1, one day: v=10 held 23h, v=1000 held 1h → TWAP ≈ 51.25,
    // row mean 505 — the whole point of time weighting
    import graft.queries.AggWindowQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_twap").toString
    val ev = df("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
      Seq(R(1L, ts(0), 1L, "a", 10.0), R(2L, ts(23 * 60), 1L, "a", 1000.0)))
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = AggWindowQueries.twap.build(spark, dir).collect()(0)
    assert(out.getLong(2) == 2L)
    val twap = out.getDouble(3); val rowMean = out.getDouble(4)
    assert(math.abs(twap - (10.0 * 23 + 1000.0) / 24.0) < 1e-6)
    assert(rowMean == 505.0 && twap < 60.0)
  }

  test("max drawdown is zero on a monotonically rising series") {
    import graft.queries.AggWindowQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_dd").toString
    val ev = df("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE",
      (1 to 5).map(i => R(i.toLong, ts(i), 1L, "a", 60.0)) ++ // always above 50
        Seq(R(10L, ts(1), 2L, "a", 60.0), R(11L, ts(2), 2L, "a", 20.0),
          R(12L, ts(3), 2L, "a", 60.0))) // dips 30 below peak 10
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = AggWindowQueries.maxDrawdown.build(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L)._1 == 0.0 && m(1L)._2 == 50.0) // 5×(60−50), never below peak
    assert(m(2L)._1 == 30.0 && m(2L)._2 == -10.0) // cum 10 → −20 → −10; peak 10
  }

  test("benford digit shares sum to 1 and expectations are the law") {
    import graft.queries.StatsQueries
    val out = StatsQueries.benford.build(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 9)
    val obsSum = out.map(_.getDouble(2)).sum
    assert(math.abs(obsSum - 1.0) < 1e-4)
    out.foreach { r =>
      val d = r.getInt(0)
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / d)) < 1e-6)
    }
  }

  test("item-CF recommendations never include already-owned items") {
    import graft.queries.GraphQueries
    val dir = "/root/testdata/sf0.001"
    val recs = GraphQueries.itemCfRecs.build(spark, dir)
      .select(col("cust"), col("cand")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recs.nonEmpty)
    val owned = Core.table(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_orderkey"), col("o_custkey").as("cust"))
      .join(Core.table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey").as("cand")),
        Seq("o_orderkey"))
      .select(col("cust"), col("cand")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recs.intersect(owned).isEmpty)
  }
}
