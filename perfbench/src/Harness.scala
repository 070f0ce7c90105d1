package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Core, SparkEntry}
import graft.qpe.{Gif, Odim, Qpe}
import graft.streaming.RT

/** One benchmark run inside one JVM: set-up (session, inputs and one
  * warm-up round), the timed closed loop of one workload, then the outputs
  * the checker reads.
  * Arguments are key=value pairs; run.py passes them.
  *
  * Writes into `work`:
  *   ops.tsv      one line per operation: name, round, latency_s, rows,
  *                result bytes, digest, error
  *   run.json     set-up time (JVM start to the first timed operation), rounds, timed seconds, CPU, peak RSS and,
  *                when traced, the per-layer metrics
  *   results/<q>  first result of each query, as parquet
  *   products/    the QPE products, plus <t>.dn: the GIF decoded by ImageIO
  *   trace.jsonl  the spans, when traced
  */
object Harness {

  final case class Op(name: String, round: Int, latencyS: Double, rows: Long,
                      bytes: Long, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val work = conf("work")
    val cpus = conf("cpus")
    new File(work).mkdirs()

    val workloadImpl: Workload = workload match {
      case "qpe_realtime" => new QpeWorkload(conf("radar"), work, seed)
      case _ => new QueryWorkload(conf("data"), conf("queries").split(',').toSeq.map { q =>
        val i = q.indexOf(':'); q.take(i) -> q.drop(i + 1) }, work, seed)
    }
    val spark = Core.harnessSession(cpus)
    workloadImpl.setUp(spark)
    workloadImpl.prepare(spark)
    val tracer = if (traced) new Tracer(spark, work) else Tracer.off
    val cpu0 = processCpuS()
    tracer.start()
    // set-up: from the JVM's start to the first timed operation
    val setupS = System.currentTimeMillis() / 1e3 - ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val tStart = System.nanoTime()
    val ops = workloadImpl.run(spark, seconds, tracer)
    val timedS = (System.nanoTime() - tStart) / 1e9
    val cpuS = processCpuS() - cpu0
    tracer.stop()
    val rssMb = peakRssMb()
    val rounds = ops.map(_.round).distinct.size

    val layers = if (traced) tracer.metrics(rounds, timedS) ++ workloadImpl.layerMetrics(spark, rounds)
                 else Map.empty[String, Double]
    workloadImpl.writeOutputs(spark)
    tracer.writeSpans()

    val pw = new java.io.PrintWriter(s"$work/ops.tsv", "UTF-8")
    ops.foreach(o => pw.println(Seq(o.name, o.round, o.latencyS, o.rows, o.bytes,
      o.digest, o.error.replaceAll("\\s+", " ")).mkString("\t")))
    pw.close()
    def num(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\": ${if (v.isNaN || v.isInfinite) 0.0 else v}" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$work/run.json"),
      s"""{"setup_s": $setupS, "rounds": $rounds, "timed_s": $timedS, """ +
      s""""cpu_s": $cpuS, "peak_rss_mb": $rssMb, "layers": ${num(layers)}}""")
    spark.stop()
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), from its own status file. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Whether to start another round: whole rounds, at least one, and none
    * that would end more than half a round after `seconds`. */
  def moreRounds(done: Int, elapsedS: Double, seconds: Double): Boolean =
    done == 0 || elapsedS + 0.5 * elapsedS / done < seconds
}

trait Workload {
  def setUp(spark: SparkSession): Unit
  /** Warm-up, after the set-up and before timing. */
  def prepare(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, seconds: Double, tracer: Tracer): Seq[Harness.Op]
  def layerMetrics(spark: SparkSession, rounds: Int): Map[String, Double]
  def writeOutputs(spark: SparkSession): Unit
}

/** A closed loop over a fixed list of the declared queries, each with its
  * family, reshuffled by the seed every round. An operation runs from the
  * call into the query's build function until every row of its result is
  * collected. */
class QueryWorkload(data: String, queries: Seq[(String, String)], work: String, seed: Long) extends Workload {
  private val names = queries.map(_._1)
  private val family = queries.toMap
  private val defs = SparkEntry.queries
  private val firstRows = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]
  private val heldMb = ArrayBuffer.empty[(Double, Double)]
  private var releaseS = 0.0

  private val rnd = new scala.util.Random(seed)

  def setUp(spark: SparkSession): Unit = Core.registerAll(spark, data)

  /** Warm-up: one untimed round, so that code generation and JIT compilation
    * of each query's first run in the JVM stay out of the timed rounds. */
  override def prepare(spark: SparkSession): Unit = rnd.shuffle(names).foreach { name =>
    scala.util.Try(defs(name)(spark, data).collect())
    Core.releaseTransientBlocks(spark)
  }

  def run(spark: SparkSession, seconds: Double, tracer: Tracer): Seq[Harness.Op] = {
    val ops = ArrayBuffer.empty[Harness.Op]
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var round = 0
    while (Harness.moreRounds(round, (System.nanoTime() - t0) / 1e9, seconds)) {
      round += 1
      for (name <- rnd.shuffle(names)) {
        val opId = tracer.opStart(name, family(name))
        sc.setJobGroup(s"op-$opId", name)
        val start = System.nanoTime()
        val result = scala.util.Try {
          val df = tracer.span(opId, "build", name) { defs(name)(spark, data) }
          val rows = tracer.span(opId, "action", "collect") { df.collect() }
          (rows, df.schema)
        }
        val latency = (System.nanoTime() - start) / 1e9
        tracer.opEnd(opId)
        sc.clearJobGroup()
        ops += (result match {
          case scala.util.Success((rows, schema)) =>
            // the first result is checked against the oracle; later ones against it
            val digest = QueryWorkload.digest(rows)
            if (!firstRows.contains(name)) { firstRows(name) = (rows, schema); firstDigest(name) = digest }
            val err = if (firstDigest(name) == digest) "" else "result differs from the first round"
            Harness.Op(name, round, latency, rows.length, QueryWorkload.bytes(rows, schema), digest, err)
          case scala.util.Failure(e) =>
            Harness.Op(name, round, latency, 0, 0, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        })
        if (tracer.on) {
          val held = QueryWorkload.storedMb(spark)
          val r0 = System.nanoTime()
          Core.releaseTransientBlocks(spark)
          releaseS += (System.nanoTime() - r0) / 1e9
          heldMb += ((held, QueryWorkload.storedMb(spark)))
        } else Core.releaseTransientBlocks(spark)
      }
    }
    ops.toSeq
  }

  def layerMetrics(spark: SparkSession, rounds: Int): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map("core.checkpoint_mb" -> mean(heldMb.map(_._1).toSeq),
        "core.memo_mb" -> mean(heldMb.map(_._2).toSeq),
        "core.release_s" -> releaseS / rounds) ++ Kernels.rates(spark)
  }

  def writeOutputs(spark: SparkSession): Unit = {
    firstRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$name")
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      oracle.map { case (n, sql) => s"${q(n)}: ${q(sql)}" }.mkString("{", ",\n", "}"))
  }
}

object QueryWorkload {
  /** Order-insensitive digest of a result, to compare rounds with each other. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** Result size in Spark's row format: what the driver holds for the user. */
  def bytes(rows: Array[Row], schema: StructType): Long = {
    val ser = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
    rows.iterator.map(r => ser(r).asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
  }

  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** The real-time QPE daemon: landed radar files feed RT.fileStream and
  * RT.completenessStream; every emitted slot runs gridStage, kernelStage and
  * writeProducts. A generator thread lands the five files of a slot and
  * waits for its products before landing the next slot. */
class QpeWorkload(radar: String, work: String, seed: Long) extends Workload {
  import QpeWorkload._
  private val spool = s"$work/spool"
  private val products = s"$work/products"
  private var lut: org.apache.spark.sql.DataFrame = _
  private val done = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val landed = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val slots = ArrayBuffer.empty[(Int, Long, String)] // k, slot, missing radar
  @volatile private var landingWaitS = 0.0

  def setUp(spark: SparkSession): Unit = {
    lut = spark.read.parquet(s"$radar/lut.parquet").cache()
    lut.count()
  }

  private def fieldFile(field: Int, r: Int) = s"$radar/field=$field/${Radars(r)}.parquet"

  private def polar(spark: SparkSession, files: Seq[String]) =
    spark.read.schema(GateSchema).parquet(files: _*)

  @volatile private var tracer: Tracer = Tracer.off
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  /** Warm-up: starts the daemon and runs WarmSlots complete slots through it. */
  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    new File(spool).mkdirs()
    new File(products).mkdirs()
    val arrivals = RT.fileStream(spark, spool, GateSchema.add("slot", LongType).add("radar", StringType))
      .select(col("slot"), col("radar").as("source"), col("slot").as("eventTimeMs"))
      .as[RT.SourceArrival]
    query = RT.completenessStream(arrivals, timeoutMs = 60000)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch { (batch: Dataset[RT.SlotResult], _: Long) =>
        batch.collect().sortBy(_.slot).foreach(sr => compute(spark, sr))
        ()
      }
      .start()
    for (k <- -WarmSlots until 0) { land(k, ""); await(T0Ms + k * SlotMs) }
    landingWaitS = 0.0
  }

  private def compute(spark: SparkSession, sr: RT.SlotResult): Unit = {
    val emitted = System.nanoTime()
    val k = ((sr.slot - T0Ms) / SlotMs).toInt
    val landedNs = landed.get(k)
    landingWaitS += (emitted - landedNs) / 1e9
    val op = tracer.opStart(s"slot-$k", "qpe", System.currentTimeMillis() - (emitted - landedNs) / 1000000)
    val present = Radars.indices.filter(r => sr.quality(r) != '-')
    val files = present.map(r => s"$spool/slot=${sr.slot}/radar=${Radars(r)}/part-0.parquet")
    val cells = tracer.timed("qpe.grid_stage_s") { Qpe.gridStage(polar(spark, files), lut) }
    val grid = tracer.timedJobs("qpe.kernel_stage_s", "qpe.collect_s") { Qpe.kernelStage(cells) }
    val tEnd = sr.slot / 1000
    if (tracer.on) {
      // Qpe.writeProducts' two writers, called one by one to time each
      val meta = Odim.chMetaFromQuality(tEnd, sr.quality)
      tracer.timed("qpe.odim_write_s") { Odim.write(s"$products/qpe_$tEnd.h5", grid, meta) }
      tracer.timed("qpe.gif_write_s") { Gif.saveGif(s"$products/qpe_$tEnd.gif", grid) }
    } else Qpe.writeProducts(grid, products, tEnd, sr.quality)
    done.put(sr.slot, (sr.quality, System.nanoTime()))
    tracer.opEnd(op)
  }

  /** Lands the files of slot k, all radars but `lacking`, one by one. */
  private def land(k: Int, lacking: String): Unit = {
    val slot = T0Ms + k * SlotMs
    val present = Radars.filterNot(_ == lacking)
    present.foreach { r =>
      val dir = new File(s"$spool/slot=$slot/radar=$r")
      dir.mkdirs()
      val tmp = Paths.get(dir.getPath, ".landing.parquet")
      Files.copy(Paths.get(fieldFile(Math.floorMod(k, Fields), Radars.indexOf(r))), tmp)
      // the slot's latency runs from its last file's landing
      if (r == present.last) landed.put(k, System.nanoTime())
      Files.move(tmp, Paths.get(dir.getPath, "part-0.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def run(spark: SparkSession, seconds: Double, tracer: Tracer): Seq[Harness.Op] = {
    this.tracer = tracer
    val t0 = System.nanoTime()
    var round = 0
    var k = 0
    try {
      while (Harness.moreRounds(round, (System.nanoTime() - t0) / 1e9, seconds)) {
        round += 1
        // the slot at position 4 of every ten lacks one radar, rotating
        val missing = Radars(((seed + round) % Radars.length).toInt)
        for (i <- 0 until SlotsPerRound) {
          val lacking = if (i == DegradedAt) missing else ""
          land(k, lacking)
          slots += ((k, T0Ms + k * SlotMs, lacking))
          // a degraded slot is emitted only once a later slot moves the
          // watermark past its deadline, so the generator waits for it
          // together with the next slot
          if (lacking.isEmpty) slots.filter(s => !done.containsKey(s._2)).foreach(s => await(s._2))
          k += 1
        }
      }
    } finally query.stop()
    slots.toSeq.map { case (k, slot, lacking) =>
      val landedNs = landed.get(k)
      val (quality, doneNs) = done.get(slot)
      val t = slot / 1000
      val bytes = Seq("h5", "gif").map(e => new File(s"$products/qpe_$t.$e").length).sum
      Harness.Op(s"slot-$k-field-${k % Fields}-missing-${if (lacking.isEmpty) "none" else lacking}",
        (k / SlotsPerRound) + 1, (doneNs - landedNs) / 1e9, 1, bytes, quality, "")
    }
  }

  private def await(slot: Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!done.containsKey(slot)) {
      query.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"slot $slot was not emitted within 120 s")
      Thread.sleep(2)
    }
  }

  def layerMetrics(spark: SparkSession, rounds: Int): Map[String, Double] = {
    val n = slots.size.toDouble
    val sizes = slots.map { case (_, slot, _) =>
      (new File(s"$products/qpe_${slot / 1000}.h5").length / 1e6,
       new File(s"$products/qpe_${slot / 1000}.gif").length / 1e6)
    }
    Map("qpe.odim_mb" -> sizes.map(_._1).sum / n, "qpe.gif_mb" -> sizes.map(_._2).sum / n,
        "rt.landing_wait_s" -> landingWaitS / rounds)
  }

  /** The GIFs decoded with the JDK's ImageIO into raw DN bytes (green = 255 - DN). */
  def writeOutputs(spark: SparkSession): Unit = slots.foreach { case (_, slot, _) =>
    val t = slot / 1000
    val img = javax.imageio.ImageIO.read(new File(s"$products/qpe_$t.gif"))
    val (w, h) = (img.getWidth, img.getHeight)
    val dn = new Array[Byte](w * h)
    for (x <- 0 until h; y <- 0 until w) dn(x * w + y) = (255 - ((img.getRGB(y, x) >> 8) & 0xff)).toByte
    Files.write(Paths.get(s"$products/qpe_$t.dn"), dn)
  }
}

object QpeWorkload {
  val Radars: Seq[String] = RT.AllSources
  val Fields = 10
  val SlotsPerRound = 10
  val WarmSlots = 6
  val DegradedAt = 4
  val SlotMs = 300000L
  val T0Ms = 1717200000000L // 2024-06-01T00:00:00Z
  val GateSchema: StructType = StructType(Seq(
    StructField("sweep", IntegerType), StructField("az_idx", IntegerType),
    StructField("rng_idx", IntegerType), StructField("zh", DoubleType),
    StructField("noise", DoubleType), StructField("visib", DoubleType),
    StructField("w", DoubleType)))
}
