package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts of one traced run, recorded around the calls into each
  * layer from the benchmark's side: operation -> query build / final action
  * (or the QPE stages) -> Spark job -> stage. Everything stays in memory and
  * is written to trace.jsonl when the run ends. With `on = false` every call
  * only runs its body. */
class Tracer(spark: SparkSession, work: String, val on: Boolean = true) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = -1L }
  private val timedSums = scala.collection.mutable.Map.empty[String, Double]
  private val jobSplits = ArrayBuffer.empty[(String, String, Long, Long)]
  private val opFamily = scala.collection.mutable.Map.empty[Long, String]

  // listener state; listener callbacks arrive on the bus thread
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[(Int, Long, Long, Int)] // stage, start, end, tasks
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val progress = ArrayBuffer.empty[(Map[String, Long], Long)]
  private val codegenFallbacks = new AtomicLong(0)
  private var window = (0L, Long.MaxValue)
  private var jvm0 = (0L, 0L)
  private var jvmDelta = (0L, 0L)

  private lazy val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += JobRec(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages += ((s.stageId, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      val run = m.executorRunTime
      val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, run, m.executorCpuTime, m.jvmGCTime,
        delay, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory, m.resultSize)
    }
  }

  private lazy val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        if (p.startTimeMs >= window._1 && p.startTimeMs <= window._2)
          phases(phase) += p.durationMs / 1e3
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private lazy val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      progress += ((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  private lazy val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      if (e.getLoggerName.endsWith("WholeStageCodegenExec") &&
          e.getMessage.getFormattedMessage.contains("codegen disabled")) codegenFallbacks.incrementAndGet()
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    jvm0 = (gcMs(), jitMs())
    window = (System.currentTimeMillis(), Long.MaxValue)
  }

  def stop(): Unit = if (on) {
    window = (window._1, System.currentTimeMillis())
    jvmDelta = (gcMs() - jvm0._1, jitMs() - jvm0._2)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  private def newSpan(parent: Long, kind: String, name: String, startMs: Long): Long = {
    val id = nextId.incrementAndGet()
    synchronized { spans += Span(id, parent, kind, name, startMs, -1L) }
    id
  }

  private def endSpan(id: Long): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(endMs = System.currentTimeMillis())
  }

  /** Starts an operation span; `startMs` lets a slot start at its landing. */
  def opStart(name: String, family: String, startMs: Long = System.currentTimeMillis()): Long =
    if (!on) 0L else {
      val id = newSpan(0L, "op", name, startMs)
      synchronized { opFamily(id) = family }
      current.set(id)
      id
    }

  def opEnd(id: Long): Unit = if (on) { endSpan(id); current.set(-1L) }

  def span[T](op: Long, kind: String, name: String)(body: => T): T =
    if (!on) body else {
      val id = newSpan(op, kind, name, System.currentTimeMillis())
      try body finally endSpan(id)
    }

  /** Time `body` under `name` (a per-layer metric, summed over the run). */
  def timed[T](name: String)(body: => T): T =
    if (!on) body else {
      val t0 = System.nanoTime()
      try span(current.get, name, name)(body)
      finally synchronized { timedSums(name) = timedSums.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9 }
    }

  /** Like [[timed]], but the part of the interval with a Spark job running
    * is reported under `jobName` and only the rest under `name`. */
  def timedJobs[T](name: String, jobName: String)(body: => T): T =
    if (!on) body else {
      val s = System.currentTimeMillis()
      try span(current.get, name, name)(body)
      finally synchronized { jobSplits += ((name, jobName, s, System.currentTimeMillis())) }
    }

  private def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Per-layer metrics; times, counts and bytes per round of the workload. */
  def metrics(rounds: Int, timedS: Double): Map[String, Double] = synchronized {
    val r = rounds.toDouble
    val (w0, w1) = window
    val inJobs = jobs.filter(j => j.start >= w0 && j.start <= w1 && j.end >= 0)
    val jobIv = inJobs.map(j => (j.start, j.end)).toSeq
    val inTasks = tasks.filter(t => t.launch >= w0 && t.launch <= w1)
    val ops = spans.filter(s => s.kind == "op" && s.endMs >= 0)
    val builds = spans.filter(s => s.kind == "build" && s.endMs >= 0)
    val buildJobs = inJobs.count(j => builds.exists(b => j.start >= b.startMs && j.start <= b.endMs))
    val maxTask = ops.map(o => inTasks.filter(t => t.launch >= o.startMs && t.launch <= o.endMs)
      .map(t => t.finish - t.launch).maxOption.getOrElse(0L)).sum
    val noJob = ops.map(o => (o.endMs - o.startMs) - covered(o.startMs, o.endMs, jobIv)).sum
    val splits = jobSplits.map { case (n, jn, a, b) => (n, jn, b - a, covered(a, b, jobIv)) }
    val families = Seq("llm", "ml", "operators", "functions").map { f =>
      s"family.${f}_s" -> ops.filter(o => opFamily.get(o.id).contains(f)).map(o => o.endMs - o.startMs).sum / 1e3 / r
    }
    def dur(key: String) = progress.map(_._1.getOrElse(key, 0L)).sum / 1e3 / r
    val mb = 1e6
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    Map(
      "trace.wall_s" -> timedS / r,
      "queries.build_s" -> builds.map(b => b.endMs - b.startMs).sum / 1e3 / r,
      "queries.build_jobs" -> buildJobs / r,
      "catalyst.analysis_s" -> phases("analysis") / r,
      "catalyst.optimizer_s" -> phases("optimization") / r,
      "catalyst.planning_s" -> phases("planning") / r,
      "catalyst.codegen_fallbacks" -> codegenFallbacks.get / r,
      "spark.jobs" -> inJobs.size / r,
      "spark.stages" -> stages.count(s => s._2 >= w0 && s._2 <= w1) / r,
      "spark.tasks" -> inTasks.size / r,
      "spark.scheduler_delay_s" -> inTasks.map(_.schedulerDelay).sum / 1e3 / r,
      "spark.no_job_s" -> noJob / 1e3 / r,
      "exec.task_s" -> inTasks.map(_.runMs).sum / 1e3 / r,
      "exec.cpu_s" -> inTasks.map(_.cpuNs).sum / 1e9 / r,
      "exec.max_task_s" -> maxTask / 1e3 / r,
      "exec.gc_s" -> inTasks.map(_.gcMs).sum / 1e3 / r,
      "exec.shuffle_write_mb" -> inTasks.map(_.shuffleWrite).sum / mb / r,
      "exec.shuffle_read_mb" -> inTasks.map(_.shuffleRead).sum / mb / r,
      "exec.spill_mb" -> inTasks.map(_.spill).sum / mb / r,
      "exec.peak_exec_mem_mb" -> inTasks.map(_.peakMem).maxOption.getOrElse(0L) / mb,
      "exec.result_mb" -> inTasks.map(_.resultSize).sum / mb / r,
      "rt.batches" -> progress.size / r,
      "rt.trigger_s" -> dur("triggerExecution"),
      "rt.add_batch_s" -> dur("addBatch"),
      "rt.query_planning_s" -> dur("queryPlanning"),
      "rt.wal_commit_s" -> dur("walCommit"),
      "rt.latest_offset_s" -> dur("latestOffset"),
      "rt.state_rows" -> progress.map(_._2.toDouble).maxOption.getOrElse(0.0),
      "jvm.gc_s" -> jvmDelta._1 / 1e3 / r,
      "jvm.jit_s" -> jvmDelta._2 / 1e3 / r,
      "jvm.heap_peak_mb" -> heap / mb
    ) ++ families ++ timedSums.map { case (k, v) => k -> v / r } ++
      splits.groupBy(_._1).map { case (n, xs) => n -> xs.map(x => x._3 - x._4).sum / 1e3 / r } ++
      splits.groupBy(_._2).map { case (n, xs) => n -> xs.map(_._4).sum / 1e3 / r }
  }

  /** Spans with their self time: duration minus the part covered by children.
    * Jobs hang under the operation span they started in, stages under jobs. */
  def writeSpans(): Unit = if (on) synchronized {
    val jobSpans = jobs.filter(_.end >= 0).map { j =>
      val parent = spans.filter(s => s.kind != "op" && s.endMs >= 0 && j.start >= s.startMs && j.start <= s.endMs)
        .sortBy(s => -s.startMs).headOption.orElse(
          spans.find(s => s.kind == "op" && j.start >= s.startMs && j.start <= s.endMs)).map(_.id).getOrElse(0L)
      Span(1000000000L + j.id, parent, "job", s"job ${j.id}", j.start, j.end)
    }
    val stageSpans = stages.map { case (sid, a, b, n) =>
      Span(2000000000L + sid, 1000000000L + stageJob.getOrElse(sid, -1), "stage", s"stage $sid ($n tasks)", a, b)
    }
    val all = (spans ++ jobSpans ++ stageSpans).filter(_.endMs >= 0).toSeq
    val children = all.groupBy(_.parent)
    val pw = new java.io.PrintWriter(s"$work/trace.jsonl", "UTF-8")
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = (s.endMs - s.startMs) - covered(s.startMs, s.endMs, kids)
      pw.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "${s.name}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": $self}""")
    }
    pw.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, kind: String, name: String, startMs: Long, endMs: Long)
  final case class JobRec(id: Int, start: Long, end: Long)
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                           schedulerDelay: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           peakMem: Long, resultSize: Long)

  val off: Tracer = new Tracer(null, null, on = false)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
