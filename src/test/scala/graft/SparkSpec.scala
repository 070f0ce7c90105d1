package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; tests only read, never mutate session state beyond temp views).
  */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.caseSensitive", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config(Core.CheckpointManagerConf._1, Core.CheckpointManagerConf._2)
    .config(Core.ExtensionsConf._1, Core.ExtensionsConf._2)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import scala.jdk.CollectionConverters._

  def df(schemaDDL: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDDL))

  def R(values: Any*): org.apache.spark.sql.Row = org.apache.spark.sql.Row(values: _*)
}
