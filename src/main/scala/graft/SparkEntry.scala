package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryRegistry

/** Entry points of the declared query surface (SURVEY.md §7). */
object SparkEntry {

  /** Flagship query (SURVEY §7.2 slice) on sf=0.001; a smoke check expects rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = QueryRegistry.builds

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = QueryRegistry.oracleSql
}
