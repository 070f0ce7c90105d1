package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{LocalFsCheckpointFileManager, RT}

/** The local file system under another scheme, counting FileContext renames:
  * stands in for a remote store whose writes must keep Spark's path. */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem {
      override def getUri: URI = URI.create("countingfs:///")
    }, conf, "countingfs", false) {
  override def renameInternal(src: Path, dst: Path): Unit = {
    CountingFs.renames.incrementAndGet()
    super.renameInternal(src, dst)
  }
}
object CountingFs { val renames = new AtomicInteger }

/** The checkpoint manager's contract (`CheckpointFileManager.createAtomic`)
  * on local paths, its fallback on other schemes, a resume on a checkpoint
  * written by Spark's default manager, and the atomic applied-marker writes
  * of the serve loops built on it.
  */
class LocalFsCheckpointFileManagerSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): NioPath = Files.createTempDirectory("graft_ckpt_fm")
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def local(dir: NioPath) = new LocalFsCheckpointFileManager(hpath(dir), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("the graft session's conf selects the local manager") {
    assert(CheckpointFileManager.create(hpath(tmp()), conf).isInstanceOf[LocalFsCheckpointFileManager])
  }

  test("no-overwrite onto an existing file throws, keeps the file and drops the temp file") {
    val dir = tmp()
    val fm = local(dir)
    val f = new Path(hpath(dir), "0")
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(read(fm, f) == "first")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the file; cancel() leaves the old content and no temp file") {
    val dir = tmp()
    val fm = local(dir)
    val f = new Path(hpath(dir), "1.delta")
    write(fm, f, "v1", overwrite = true)
    write(fm, f, "v2", overwrite = true)
    assert(read(fm, f) == "v2")
    val out = fm.createAtomic(f, overwriteIfPossible = true)
    out.write("v3".getBytes(UTF_8))
    out.cancel()
    assert(read(fm, f) == "v2")
    assert(names(dir) == Set("1.delta"))
  }

  test("replacing a file the default manager wrote drops its stale .crc sidecar") {
    val dir = tmp()
    val spark0 = new FileContextBasedCheckpointFileManager(hpath(dir), conf)
    val f = new Path(hpath(dir), "metadata")
    write(spark0, f, "written by Spark's default manager", overwrite = true)
    assert(names(dir).contains(".metadata.crc"), names(dir))
    write(local(dir), f, "replaced", overwrite = true)
    // the default manager's reads verify checksums when a sidecar exists
    assert(read(spark0, f) == "replaced")
    assert(names(dir) == Set("metadata"))
  }

  test("other schemes keep Spark's FileContext path") {
    val dir = tmp()
    val c = conf
    c.set("fs.AbstractFileSystem.countingfs.impl", classOf[CountingFs].getName)
    val root = new Path(s"countingfs://${dir.toUri.getPath}")
    val fm = new LocalFsCheckpointFileManager(root, c)
    val f = new Path(root, "0")
    val before = CountingFs.renames.get
    write(fm, f, "remote", overwrite = false)
    assert(CountingFs.renames.get == before + 1)
    assert(read(fm, f) == "remote")
    intercept[FileAlreadyExistsException](write(fm, f, "again", overwrite = false))
  }

  test("a query resumes on a checkpoint written by Spark's default manager") {
    import spark.implicits._
    val spool = tmp()
    val checkpoint = tmp().resolve("q")
    val schema = StructType(Seq(StructField("slot", LongType), StructField("source", StringType)))
    def land(i: Int, sources: String*): Unit =
      sources.map(s => (1000L, s)).toDF("slot", "source").coalesce(1)
        .write.parquet(spool.resolve(s"batch=$i").toString)
    def run(): Seq[(String, Boolean)] = {
      val arrivals = RT.fileStream(spark, spool.toString, schema.add("batch", IntegerType))
        // event time moves forward with each batch: rows at the watermark are late
        .select(col("slot"), col("source"), (col("slot") + col("batch")).as("eventTimeMs"))
        .as[RT.SourceArrival]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
      val q = RT.completenessStream(arrivals, timeoutMs = 60000)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint.toString)
        .foreachBatch { (b: Dataset[RT.SlotResult], _: Long) =>
          b.collect().foreach(r => out.add((r.quality, r.complete))); () }
        .start()
      try q.processAllAvailable() finally q.stop()
      out.asScala.toSeq
    }

    val (key, value) = Core.CheckpointManagerConf
    spark.conf.unset(key)
    try {
      land(0, "A", "D")
      assert(run().isEmpty)
      land(1, "L", "P")
      assert(run().isEmpty)
    } finally spark.conf.set(key, value)
    val state = Files.walk(checkpoint.resolve("state")).iterator().asScala.toSeq
    assert(state.exists(_.getFileName.toString.endsWith(".delta.crc")),
      "the default manager's state files should carry .crc sidecars")
    // a crash before the last batch committed: the resumed query re-runs
    // it and rewrites its state files over the sidecar-carrying ones
    Files.delete(checkpoint.resolve("commits/1"))
    Files.deleteIfExists(checkpoint.resolve("commits/.1.crc"))
    assert(run().isEmpty)
    land(2, "W")
    assert(run() == Seq(("ADLPW", true)))
  }

  test("applied marker: a write that throws mid-stream or is cancelled leaves the previous value") {
    val dir = tmp()
    val marker = new Path(hpath(dir), "_applied")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a marker as the serve loops used to write it, with its .crc sidecar
    val old = fs.create(marker, true)
    old.write("4".getBytes(UTF_8))
    old.close()
    RT.writeAtomically(spark, marker)(_.write("5".getBytes(UTF_8)))
    assert(RT.readAppliedMarker(fs, marker) == 5L)

    intercept[IllegalStateException] {
      RT.writeAtomically(spark, marker) { out =>
        out.write("7".getBytes(UTF_8))
        out.flush()
        throw new IllegalStateException("crash mid-write")
      }
    }
    assert(RT.readAppliedMarker(fs, marker) == 5L)

    val out = CheckpointFileManager.create(hpath(dir), conf).createAtomic(marker, overwriteIfPossible = true)
    out.write("9".getBytes(UTF_8))
    out.cancel()
    assert(RT.readAppliedMarker(fs, marker) == 5L)
    assert(names(dir) == Set("_applied"))
  }
}
