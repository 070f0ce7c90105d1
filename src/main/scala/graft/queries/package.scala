package graft

import org.apache.spark.sql.{ColumnName, DataFrame, SparkSession}

/** The declared queries: one per implemented operator (SURVEY.md §2),
  * runnable on the TPC-H-ish testdata and hash-verifiable
  * against a DuckDB oracle. Each family object exposes `all`;
  * [[QueryRegistry]] lists the families once.
  *
  * Determinism discipline (double arithmetic is order-dependent, and Spark and
  * DuckDB will sum in different orders):
  *   - every SUM/AVG over doubles goes through an exact DECIMAL accumulator
  *     (`graft.Ora.dsum`) — decimal addition is associative, so both engines produce
  *     the identical value regardless of partitioning;
  *   - scalar double math applied afterwards is the same IEEE ops on identical
  *     inputs on both sides;
  *   - computed columns get a final round(6) and an explicit alias matching
  *     the oracle SQL column name;
  *   - every query ends in a total ORDER BY on its key columns.
  */
package object queries {

  /** Table `name` of the testdata directory `dir`. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Core.table(s, dir, name)

  // sugar so query bodies read like `$"col"`
  private[queries] implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): ColumnName = new ColumnName(sc.s(args: _*))
  }
}
