package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query loop of the harness mains (Bench, Verify, Scaling): every
  * query runs to its FULL result into a sink, so the plan that is timed is
  * the plan that is verified. A `count()` would let Catalyst prune every
  * column the count does not need and drop the final ORDER BY.
  */
object Runner {
  type Build = (SparkSession, String) => DataFrame

  /** Timing sink: Spark's `noop` format executes the whole plan and writes nothing. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Run one query under job group `name`: build it and execute its full
    * result into `sink`, timing both. Returns seconds, or -1.0 on any throw
    * (a crash billed as its time-to-failure would pass every downstream
    * guard as a fast run). The between-queries block release runs outside
    * the timer: a released localCheckpoint is unrecomputable, so it is only
    * safe once the query has consumed its result.
    */
  def run(spark: SparkSession, name: String, build: => DataFrame,
          sink: DataFrame => Unit): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try { sink(build); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"WARN: query $name FAILED after " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s: " +
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      -1.0
    } finally {
      sc.clearJobGroup()
      Core.releaseTransientBlocks(spark)
    }
  }

  /** The declared queries named in the comma-separated `filter`, in the
    * filter's order (a repeated name keeps its first place), so a caller
    * can run them in any order. A blank filter selects all of them in name
    * order (a quoted-but-unset shell variable must not select zero
    * queries); an unknown name fails loudly.
    */
  def select(filter: String): Seq[(String, Build)] = {
    val all = SparkEntry.queries
    val names = filter.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names in filter: ${unknown.sorted.mkString(",")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.map(n => n -> all(n))
  }
}
