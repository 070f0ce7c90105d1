package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pins the between-queries checkpoint release (round 14, VERDICT item 3):
  * query-private localCheckpoint blocks and cache entries are dropped, the
  * memos of every session on the context survive AND stay readable — a
  * released localCheckpoint would be
  * unrecomputable, so protection is correctness, not just performance.
  */
class ReleaseBlocksSpec extends SparkSpec {

  test("releaseTransientBlocks drops unprotected checkpoints, keeps protected readable") {
    val sc = spark.sparkContext
    // query-private checkpoint: must be released
    val transientDf = df("v INT", (1 to 100).map(R(_))).localCheckpoint()
    // session memo: protected, must survive and stay readable
    val memoDf = Core.memo(spark, "ReleaseBlocksSpec", "v_1_50") {
      df("v INT", (1 to 50).map(R(_)))
    }
    assert(transientDf.count() == 100)
    assert(memoDf.count() == 50)

    val persistedBefore = sc.getPersistentRDDs.keySet
    Core.releaseTransientBlocks(spark)
    // unpersist(blocking = false) is async on the block side but removes
    // the RDD from persistentRdds synchronously
    val persistedAfter = sc.getPersistentRDDs.keySet
    assert(persistedAfter.size < persistedBefore.size,
      s"release removed nothing: before=$persistedBefore after=$persistedAfter")

    // the protected memo's backing blocks are still scannable end-to-end
    assert(memoDf.agg(sum(col("v"))).collect().head.getLong(0) == 1275L)
    // and a fresh plan over the memo (the consumer pattern) also works
    assert(memoDf.filter(col("v") <= 10).count() == 10)
  }

  test("a released persist() drops its cache entry, so persist() and a read cache it again") {
    val sc = spark.sparkContext
    val rel = df("v INT", (1 to 30).map(R(_))).persist()
    assert(rel.count() == 30)
    assert(rel.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Core.releaseTransientBlocks(spark)
    assert(rel.storageLevel == StorageLevel.NONE)
    rel.persist()
    assert(rel.count() == 30)
    assert(rel.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val buffers = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(rel.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .get.cachedRepresentation.cacheBuilder.cachedColumnBuffers
    assert(sc.getRDDStorageInfo.exists(i => i.id == buffers.id && i.numCachedPartitions > 0),
      "the second persist() must cache the relation's blocks")
    rel.unpersist()
  }

  test("a memo of a sibling session survives a release called from the main session") {
    val sc = spark.sparkContext
    val sibling = spark.newSession()
    val memoDf = Core.memo(sibling, "ReleaseBlocksSpec", "v_1_40") {
      sibling.range(1, 41).toDF("v")
    }
    val memoIds = memoDf.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    assert(memoIds.nonEmpty && memoIds.forall(sc.getPersistentRDDs.contains))
    Core.releaseTransientBlocks(spark)
    assert(memoIds.forall(sc.getPersistentRDDs.contains),
      s"sibling memo released: ${sc.getPersistentRDDs.keySet}")
    assert(memoDf.agg(sum(col("v"))).collect().head.getLong(0) == 820L)
    // later consumers read the stored relation, not a rebuild
    assert(Core.memo(sibling, "ReleaseBlocksSpec", "v_1_40")(fail("memo rebuilt")) eq memoDf)
  }

  test("release between builds leaves a later query's fresh checkpoint usable") {
    // the Bench pattern: query N checkpoints, release, query N+1 checkpoints
    val a = df("v INT", (1 to 10).map(R(_))).localCheckpoint()
    assert(a.count() == 10)
    Core.releaseTransientBlocks(spark)
    val b = df("v INT", (1 to 20).map(R(_))).localCheckpoint()
    assert(b.count() == 20)
    Core.releaseTransientBlocks(spark)
  }

  test("a QPE slot after the block release and a LUT unpersist is bit-identical") {
    import graft.qpe.Qpe
    val lut = QpeFixtures.lut(spark).cache()
    def slot() = Qpe.kernelStage(
      Qpe.gridStage(QpeFixtures.polar(spark, 0 until 5), lut, QpeFixtures.Cfg), QpeFixtures.Cfg)
    val first = slot()
    // drops the LUT's cell-partitioned copy's blocks, then the LUT itself
    Core.releaseTransientBlocks(spark)
    lut.unpersist()
    val again = slot()
    assert(QpeFixtures.gridSha(again) == QpeFixtures.gridSha(first))
    assert(first.flatten.exists(v => !v.isNaN && v > 0))
  }
  test("the first QPE slot after a block release persists the LUT's cell-partitioned copy again") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    import graft.qpe.Qpe
    val sc = spark.sparkContext
    val lut = QpeFixtures.lut(spark).cache()
    def slot() = Qpe.kernelStage(
      Qpe.gridStage(QpeFixtures.polar(spark, 0 until 5), lut, QpeFixtures.Cfg), QpeFixtures.Cfg)
    def copyPersisted: Boolean = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(lut.repartition(col("chx"), col("chy"))
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(cd => sc.getPersistentRDDs.contains(cd.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id))
    def jobsOf(body: => Unit): Int = {
      def drain(): Unit = {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      }
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      drain()
      sc.addSparkListener(listener)
      try { body; drain() } finally sc.removeSparkListener(listener)
      jobs.get
    }
    val first = slot()
    assert(copyPersisted)
    Core.releaseTransientBlocks(spark)
    assert(!copyPersisted)
    slot()
    assert(copyPersisted, "the slot after a release must persist the copy again")
    // a warm slot: gate broadcast and grid, no rebuild of the copy
    var again: Array[Array[Double]] = null
    assert(jobsOf { again = slot() } == 2)
    assert(QpeFixtures.gridSha(again) == QpeFixtures.gridSha(first))
    lut.unpersist()
  }
}
