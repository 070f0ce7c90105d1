package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.RT

/** Committed after the streamed batches: once the recording stream delivers
  * it, every event committed before it has been delivered too. */
class ForkSpecFlushMarker extends jdk.jfr.Event

/** A streaming micro-batch on a local checkpoint starts no OS process. The
  * daemon's shape — gate files landed in a spool, the completeness state
  * machine, a foreachBatch sink — runs three batches while a JFR recording
  * stream counts `jdk.ProcessStart` events. Hadoop's local file system,
  * without its native library, forks `readlink` on every FileContext rename
  * and `chmod` on every file and directory it creates.
  */
class CheckpointForkSpec extends SparkSpec {

  private val gateSchema = StructType(Seq(
    StructField("sweep", IntegerType), StructField("az_idx", IntegerType),
    StructField("rng_idx", IntegerType), StructField("zh", DoubleType)))
  private val slots = Seq(300000L, 600000L, 900000L)
  private val ArtifactCleanup = "org.apache.spark.sql.artifact.ArtifactManager"

  /** Gate files for every (slot, radar), written before anything is timed:
    * Spark's own parquet writer goes through the forking local file system. */
  private def stage(): Map[(Long, String), Path] = {
    val dir = Files.createTempDirectory("graft_fork_stage")
    (for (slot <- slots; r <- RT.AllSources) yield {
      val out = dir.resolve(s"$slot-$r")
      df("sweep INT, az_idx INT, rng_idx INT, zh DOUBLE",
        (0 until 20).map(i => R(1, i % 4, i, 20.0 + i))).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      (slot, r) -> part
    }).toMap
  }

  /** One daemon run: each slot's five files land, then one micro-batch. */
  private def daemon(staged: Map[(Long, String), Path]): Seq[RT.SlotResult] = {
    import spark.implicits._
    val spool = Files.createTempDirectory("graft_fork_spool")
    val checkpoint = Files.createTempDirectory("graft_fork_ckpt").resolve("q")
    val arrivals = RT.fileStream(spark, spool.toString,
        gateSchema.add("slot", LongType).add("radar", StringType))
      .select(col("slot"), col("radar").as("source"), col("slot").as("eventTimeMs"))
      .as[RT.SourceArrival]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[RT.SlotResult]()
    val q = RT.completenessStream(arrivals, timeoutMs = 60000)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (b: Dataset[RT.SlotResult], _: Long) => b.collect().foreach(emitted.add); () }
      .start()
    try slots.foreach { slot =>
      RT.AllSources.foreach { r =>
        val dir = Files.createDirectories(spool.resolve(s"slot=$slot/radar=$r"))
        Files.copy(staged((slot, r)), dir.resolve(".landing"))
        Files.move(dir.resolve(".landing"), dir.resolve("part-0.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
      q.processAllAvailable()
    } finally q.stop()
    emitted.asScala.toSeq.sortBy(_.slot)
  }

  test("a 3-batch completeness stream on a local checkpoint forks no process") {
    val staged = stage()
    // warm-up: one-time initialisation is not a per-batch cost. Hadoop's
    // Shell probes its environment once per JVM, and Spark's process-tree
    // metrics run `getconf PAGESIZE` on the first executor heartbeat
    assert(daemon(staged).map(_.quality) == Seq.fill(3)("ADLPW"))
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val forks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ForkSpecFlushMarker])
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
        // a garbage-collected session clone deletes its artifact directory
        // with `rm -rf` on the JVM's cleaner thread, whenever GC runs: not
        // the stream's work
        if (!frames.exists(_.getMethod.getType.getName.startsWith(ArtifactCleanup)))
          forks.add(e.getString("command") + " at " + frames.map(_.getMethod.getType.getName)
            .find(_.startsWith("org.apache.spark")).getOrElse("?"))
      })
      rs.onEvent(classOf[ForkSpecFlushMarker].getName, _ => flushed.countDown())
      val started = new CountDownLatch(1)
      rs.onFlush(() => started.countDown())
      rs.startAsync()
      assert(started.await(30, TimeUnit.SECONDS), "the recording stream never flushed")

      val results = daemon(staged)
      new ForkSpecFlushMarker().commit()
      assert(flushed.await(30, TimeUnit.SECONDS), "the marker event never arrived")

      assert(results.map(r => (r.slot, r.quality, r.complete)) == slots.map((_, "ADLPW", true)))
      val cmds = forks.asScala.toSeq
      assert(cmds.isEmpty, s"${cmds.size} processes started, e.g. ${cmds.distinct.take(5).mkString("; ")}")
    } finally rs.close()
  }
}
