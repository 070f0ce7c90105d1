package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/check.py). Exits 1
  * naming every query that failed. */
object Verify {
  /** Write each query's full result to `$outDir/<name>` through
    * [[Core.writeResult]] and return the names that failed. A previous run's
    * output is deleted first: a query whose build throws never reaches its
    * write, and a stale result left on disk would pass the compare.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, Runner.Build)]): Seq[String] =
    queries.filter { case (name, fn) =>
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      Runner.run(spark, name, fn(spark, sfDir), Core.writeResult(_, out.toString)) < 0
    }.map(_._1)

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter (dev loop)]
    val sfDir = args(0)
    val outDir = args(1)
    val selected = Runner.select(args.lift(2).getOrElse(""))
    val spark = Core.harnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
