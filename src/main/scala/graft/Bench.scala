package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** Times every declared query at `SPARK_GRAFT_SF_DIR` through [[Runner]]
  * (full result into the `noop` sink) and prints ONE JSON line:
  * `{"metric":"total","value":…,"unit":"sec","sf":…,"queries":"<csv>"}`.
  * Field N of the CSV is the time of permanent id qN (BENCH_KEYS.json,
  * append-only): 2 dp with trailing zeros stripped, empty for a retired or
  * unselected id, -1 for a failed query. A full run also writes the
  * lossless full-name 3 dp record to BENCH_full.json; a SPARK_GRAFT_ONLY
  * dev subset never overwrites it.
  */
object Bench {
  val KeysFile = "BENCH_KEYS.json"

  def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def fmt2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      .reverse.dropWhile(_ == '0').reverse.stripSuffix(".")

  /** Time each selected query. A median of three runs replaces the first
    * when it is over 2 s (one cold or contended run mis-bills a multi-second
    * query 2-3×) or ≥1.5× off its committed anchor in either direction (a
    * single noisy sample must not read as a regression). Cheap stable
    * queries stay single-run: re-running all of them triples the wall clock.
    */
  def timeAll(spark: SparkSession, sfDir: String, selected: Seq[(String, Runner.Build)],
              anchor: Map[String, Double]): Map[String, Double] =
    selected.map { case (name, fn) =>
      def once(): Double = Runner.run(spark, name, fn(spark, sfDir), Runner.noop)
      val first = once()
      val drifted = anchor.get(name)
        .exists(a => a > 0 && first > 0 && (first >= a * 1.5 || first <= a / 1.5))
      name -> (if (first > 2.0 || drifted) Seq(first, once(), once()).sorted.apply(1) else first)
    }.toMap

  /** `known` (name → id, retired names included) plus every new name, in
    * name order, at the next unused number. An id is never reused.
    */
  def assignIds(known: Map[String, Int], names: Seq[String]): Map[String, Int] =
    names.filterNot(known.contains).distinct.sorted.foldLeft(known) { (ids, n) =>
      ids + (n -> (ids.values.maxOption.getOrElse(-1) + 1))
    }

  def line(total: Double, sf: String, ids: Map[String, Int], times: Map[String, Double]): String = {
    val byId = times.map { case (n, t) => ids(n) -> fmt2(t) }
    val csv = (0 to ids.values.maxOption.getOrElse(-1)).map(byId.getOrElse(_, "")).mkString(",")
    s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","sf":"$sf","queries":"$csv"}"""
  }

  private def fields(path: String): List[(String, JValue)] =
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path))) match {
      case JObject(fs) => fs
      case other => sys.error(s"$path: expected a JSON object, got ${other.getClass.getSimpleName}")
    }

  /** The id registry `{"qN":"name",…}`; unreadable is fatal, since
    * restarting the numbering would silently re-key every query.
    */
  def readKeys(path: String): Map[String, Int] = {
    val Id = "q(\\d+)".r
    if (!Files.exists(Paths.get(path))) Map.empty
    else fields(path).collect { case (Id(i), JString(n)) => n -> i.toInt }.toMap
  }

  /** Anchor times by full name from the last committed local bench. A file
    * that yields none is fatal: it would silently turn every drift re-run off.
    */
  def readAnchor(path: String): Map[String, Double] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else fields(path).collectFirst { case ("queries", JObject(qs)) =>
      qs.collect { case (n, JDouble(t)) => n -> t }.toMap
    }.filter(_.nonEmpty).getOrElse(sys.error(s"$path: no anchors parsed; fix or delete it"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Core.harnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // warm-up: JVM, codegen and scheduler start-up must not bill the first
    // query, so touch the cold paths the queries share (scan+agg, window
    // sort, broadcast join, explode+md5, the noop write) on small slices.
    // Best-effort: a dataset without one of these tables degrades to a cold
    // first query instead of killing the run.
    scala.util.Try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      Runner.noop(li.groupBy("l_returnflag").count())
      val liS = li.filter(col("l_orderkey") % 1000 === 0)
      Runner.noop(liS.withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey")))).agg(max(col("rn"))))
      Runner.noop(liS.join(broadcast(liS.select(col("l_orderkey")).limit(100)), Seq("l_orderkey")))
      Runner.noop(spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
        .select(explode(split(lower(col("text")), "\\s+")).as("t"))
        .select(conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
        .agg(min(col("h"))))
    }
    val selected = Runner.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
    val known = readKeys(KeysFile)
    val ids = assignIds(known, SparkEntry.queries.keys.toSeq)
    val results = timeAll(spark, sfDir, selected, readAnchor("BENCH_local.json"))
    val total = results.values.sum
    // side files (cwd = repo root under sbt), best-effort: a read-only cwd
    // must not fail the bench
    scala.util.Try {
      if (ids != known) Files.writeString(Paths.get(KeysFile), ids.toSeq.sortBy(_._2)
        .map { case (n, i) => s""""q$i":"$n"""" }.mkString("{", ",", "}\n"))
      if (selected.size == SparkEntry.queries.size) {
        val full = results.toSeq.sortBy(_._1).map { case (n, t) => s""""$n":${fmt3(t)}""" }
        Files.writeString(Paths.get("BENCH_full.json"),
          s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","sf":"$sfDir","queries":${full.mkString("{", ",", "}")}}""")
      }
    }
    println(line(total, new java.io.File(sfDir).getName, ids, results))
    spark.stop()
  }
}
