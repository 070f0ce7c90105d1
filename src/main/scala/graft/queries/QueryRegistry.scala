package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build` runs it on a testdata directory, `oracle` is
  * the equivalent DuckDB SQL over the same parquet tables (None for
  * non-SQL-expressible ops). `memBound` marks a mirror whose DuckDB session
  * bounds its own memory (see [[QueryDef.memBoundPragmas]]).
  */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: Option[String],
                          memBound: Boolean = false) {

  /** The oracle as DuckDB runs it: CTEs materialized, pragmas prefixed. */
  def oracleSql: Option[String] = oracle.map { sql =>
    val bounded = QueryDef.materializeCtes(sql)
    if (memBound) QueryDef.memBoundPragmas + bounded else bounded
  }
}

object QueryDef {

  /** Bound every mirror's DuckDB peak memory.
    *
    * DuckDB inlines non-MATERIALIZED CTEs at every reference, so a chain of
    * iterative CTEs (power iterations, residual/codebook stages) re-plans
    * and re-executes its whole upstream chain once per consumer — plan size
    * and executor pre-allocations grow multiplicatively with chain depth.
    * Measured at sf0.01: pca_deflation_top2 7.65 s / 791 MB → 0.22 s /
    * 92 MB, sample_kcenter 3.90 → 0.95 s, pca_power_iteration 2.36 s /
    * 344 MB → 0.18 s / 71 MB, simsearch_hnsw 10.0 → 4.5 s, with the all-260
    * sweep totalling 53.9 → 33.4 s and BIT-IDENTICAL results on every query
    * (fetchall hash compared). Applied to every mirror so none can drift
    * back; RECURSIVE mirrors are left untouched (DuckDB cannot materialize a
    * recursive CTE, and the two recursive mirrors were verified unchanged).
    */
  private val namedWindowClause =
    java.util.regex.Pattern.compile("\\bWINDOW\\s+\\w+\\s+AS\\s*\\(")
  private[queries] def materializeCtes(sql: String): String =
    // skip RECURSIVE mirrors (DuckDB cannot materialize a recursive CTE)
    // and mirrors with a named-WINDOW clause (`WINDOW w AS (...)` — and its
    // comma continuations — share the exact " AS (" shape with a CTE and
    // MATERIALIZED is a parse error there; all ten such mirrors are cheap,
    // ≤155 MB / ≤0.2 s in the sweep, so skipping them costs nothing)
    if (sql.contains("WITH RECURSIVE") || namedWindowClause.matcher(sql).find()) sql
    else sql.replace(" AS (", " AS MATERIALIZED (")

  /** Session settings of the `memBound` mirrors, which hit DuckDB `bad
    * allocation` (malloc failure under environment-level memory pressure)
    * in a memory-constrained verify run: few threads (DuckDB pre-allocates
    * per-thread operator state — simsearch_ivfpq measured 444 MB at 32
    * threads vs 120 MB at 1), a hard memory_limit, and a spill directory so
    * hitting the limit degrades to disk instead of an abort. Multi-statement
    * strings run fine through duckdb-python's `con.sql(...)` /
    * `con.execute(...)`: the SETs apply, the SELECT is the returned relation.
    */
  private[queries] val memBoundPragmas =
    "SET threads TO 8; SET memory_limit='2GB'; " +
      "SET temp_directory='/tmp/graft_duckdb_spill'; "
}

/** The one catalog of declared queries: every family object, listed once.
  * A name declared twice is an error at construction, never a silently
  * dropped query.
  */
object QueryRegistry {

  private val families: Seq[Seq[QueryDef]] = Seq(
    RelationalQueries.all, AggWindowQueries.all, RadarQueries.all,
    MlQueries.all, StatsQueries.all, GraphQueries.all, DedupQueries.all,
    SimsearchQueries.all, TextQueries.all, SketchQueries.all)

  private[graft] def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(q => q.name -> q).toMap
  }

  private val declared: Map[String, QueryDef] = index(families.flatten)

  val builds: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] =
    declared.flatMap { case (n, q) => q.oracleSql.map(n -> _) }
}
