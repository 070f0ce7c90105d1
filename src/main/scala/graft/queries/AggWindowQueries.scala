package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Core
import graft.functions.Phys
import graft.operators.{Behavior, Stats, Windows}

/** Aggregation and window queries: grouped and multi-level aggregates,
  * cubes/rollups/pivots, and running, ranking, rolling and time-series
  * window operators.
  */
object AggWindowQueries {

  import graft.Ora._

  /** A4/F1/F2: per-column aggregation codes — mean, dB-domain mean, sum. */
  val a4DbMean: QueryDef = QueryDef(
    "a4_aggregate_multi",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(r6(dmean($"l_quantity")).as("qty_mean"),
           r6(log10(dmean(pow(lit(10.0), $"l_quantity" * 0.1))) * 10.0).as("qty_dbmean"),
           dsum6($"l_tax").as("tax_sum"))
      .orderBy($"l_returnflag"),
    Some(s"""SELECT l_returnflag,
      ROUND(${dmeanSql("l_quantity")}, 6) AS qty_mean,
      ROUND(LOG10(${dmeanSql("POW(10.0, l_quantity * 0.1)")}) * 10.0, 6) AS qty_dbmean,
      ${dsum6Sql("l_tax")} AS tax_sum
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A5/O3: argmax semantics — value at the row of max/min ordering column. */
  val a5MaxBy: QueryDef = QueryDef(
    "a5_max_by",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // tie-break on the selected value itself: rows tying on quantity AND
      // price produce the same output either way, so the argmax is deterministic
      val ord = $"l_quantity" * 1000000000.0 + $"l_extendedprice"
      li.groupBy($"l_orderkey")
        .agg(r6(dmean($"l_extendedprice")).as("price_mean"),
             max_by($"l_extendedprice", ord).as("price_at_maxq"),
             min_by($"l_extendedprice", ord).as("price_at_minq"))
        .orderBy($"l_orderkey")
    },
    Some(s"""SELECT l_orderkey,
      ROUND(${dmeanSql("l_extendedprice")}, 6) AS price_mean,
      ARG_MAX(l_extendedprice, l_quantity * 1000000000.0 + l_extendedprice) AS price_at_maxq,
      ARG_MIN(l_extendedprice, l_quantity * 1000000000.0 + l_extendedprice) AS price_at_minq
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** A7: hourly rollup of sub-hourly values. */
  val a7Hourly: QueryDef = QueryDef(
    "a7_hourly_mean",
    (s, dir) => t(s, dir, "events")
      .groupBy($"user_id", Phys.floorToCadence(epochS($"ts"), 3600L).as("hour_e"))
      .agg(r6(dmean($"value")).as("value_hmean"))
      .orderBy($"user_id", $"hour_e"),
    Some(s"""SELECT user_id, (${epochSql("ts")} - ${epochSql("ts")} % 3600) AS hour_e,
      ROUND(${dmeanSql("value")}, 6) AS value_hmean
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** A10: distinct projection. */
  val a10Distinct: QueryDef = QueryDef(
    "a10_distinct",
    (s, dir) => t(s, dir, "events")
      .select($"user_id", $"event_type").distinct()
      .orderBy($"user_id", $"event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type"""))

  /** A14: statistics rollup — mean/std/min/max/n with decimal-exact moments
    * (std from Σx, Σx² so both engines agree bit-for-bit).
    */
  val a14Stats: QueryDef = QueryDef(
    "a14_stats_rollup",
    (s, dir) => {
      val e = t(s, dir, "events")
      val n = count($"value")
      val sx = dsum($"value")
      val sxx = dsum($"value" * $"value")
      e.groupBy($"event_type").agg(
          r6(sx / n).as("mean"),
          r6(sqrt((sxx - sx * sx / n) / (n - lit(1)))).as("std"),
          r6(min($"value")).as("min_v"),
          r6(max($"value")).as("max_v"),
          n.as("n"))
        .orderBy($"event_type")
    },
    Some(s"""SELECT event_type,
      ROUND(${dsumSql("value")} / COUNT(value), 6) AS mean,
      ROUND(SQRT((${dsumSql("value * value")} - ${dsumSql("value")} * ${dsumSql("value")} / COUNT(value)) / (COUNT(value) - 1)), 6) AS std,
      ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v,
      COUNT(value) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** W1: sessionization — gap > 30 min starts a new session; session stats. */
  val w1Sessionize: QueryDef = QueryDef(
    "w1_sessionize",
    (s, dir) => Windows.sessionize(t(s, dir, "events"), "user_id", "ts", 1800L)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
           (max(epochS($"ts")) - min(epochS($"ts"))).as("duration_s"),
           min(epochS($"ts")).as("start_e"))
      .orderBy($"user_id", $"session_id"),
    Some(s"""WITH g AS (
        SELECT user_id, ts, ${epochSql("ts")} AS e,
               LAG(${epochSql("ts")}) OVER (PARTITION BY user_id ORDER BY ts) AS pe
        FROM events),
      s AS (SELECT user_id, ts, e,
                   CASE WHEN pe IS NULL OR e - pe > 1800 THEN 1 ELSE 0 END AS ns
            FROM g),
      t AS (SELECT user_id, e,
                   CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM s)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MAX(e) - MIN(e) AS duration_s, MIN(e) AS start_e
      FROM t GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** W3/A8: contiguous dense group ids — scale-safe construction: the global
    * sort only touches the distinct key set, broadcast-joined back (the naive
    * whole-table dense_rank survives only package-private as the reference
    * semantics the spec compares against). Oracle-identical output.
    */
  val w3DenseRank: QueryDef = QueryDef(
    "w3_dense_rank",
    (s, dir) => Windows.denseGroupIdScalable(
        t(s, dir, "events").select($"event_id", $"event_type"),
        Seq("event_type"))
      .select($"event_id", $"event_type", $"group_id")
      .orderBy($"event_id"),
    Some("""SELECT event_id, event_type,
      CAST(DENSE_RANK() OVER (ORDER BY event_type) AS INT) - 1 AS group_id
      FROM events ORDER BY event_id"""))

  /** W6: rolling least-squares slope over ±3 rows per key (KDP-fit shape),
    * with decimal-exact window sums.
    */
  val w6Slope: QueryDef = QueryDef(
    "w6_rolling_slope",
    (s, dir) => {
      val byU = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val base = t(s, dir, "events")
        .select($"user_id", $"ts", $"event_id", $"value")
        .withColumn("x", row_number().over(byU))
      val w = Window.partitionBy($"user_id").orderBy($"x").rowsBetween(-3, 3)
      val n = count(lit(1)).over(w)
      val sx = dsumOver($"x".cast("double"), w)
      val sy = dsumOver($"value", w)
      val sxy = dsumOver($"x" * $"value", w)
      val sxx = dsumOver($"x".cast("double") * $"x", w)
      base.withColumn("slope",
          when(n > 1, r6((n * sxy - sx * sy) / (n * sxx - sx * sx))))
        .select($"user_id", $"x", $"slope")
        // output bound (partition-aligned, so the window math is untouched
        // for surviving keys): keeps the checker's cumulative result-set
        // footprint small — 10k-row dumps were the DuckDB-OOM-flake class
        .filter($"user_id" < 40)
        .orderBy($"user_id", $"x")
    },
    Some(s"""WITH b AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
        FROM events),
      w AS (SELECT user_id, x,
        COUNT(*) OVER fr AS n,
        CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,10))) OVER fr AS DOUBLE) AS sx,
        CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER fr AS DOUBLE) AS sy,
        CAST(SUM(CAST((x * value) AS DECIMAL(27,10))) OVER fr AS DOUBLE) AS sxy,
        CAST(SUM(CAST((CAST(x AS DOUBLE) * x) AS DECIMAL(27,10))) OVER fr AS DOUBLE) AS sxx
        FROM b
        WINDOW fr AS (PARTITION BY user_id ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      SELECT user_id, x,
             CASE WHEN n > 1
                  THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope
      FROM w WHERE user_id < 40 ORDER BY user_id, x"""))

  /** W7/A13: lag state + null-aware pair mean (temporal smoothing). */
  val w7Lag: QueryDef = QueryDef(
    "w7_lag_pair_mean",
    (s, dir) => {
      val byU = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .select($"event_id", $"user_id", $"ts", $"value")
        .withColumn("prev", lag($"value", 1).over(byU))
        .withColumn("delta", r6($"value" - $"prev"))
        .withColumn("smoothed", r6(graft.operators.Agg.pairMean($"value", $"prev")))
        .select($"event_id", $"user_id", $"delta", $"smoothed")
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id,
      ROUND(value - prev, 6) AS delta,
      ROUND(CASE WHEN value IS NULL THEN prev
                 WHEN prev IS NULL THEN value
                 ELSE (value + prev) / 2.0 END, 6) AS smoothed
      FROM (SELECT event_id, user_id, value,
                   LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events)
      ORDER BY event_id"""))

  /** A11: first-per-group (reference: ml/rf.py:1172-1173 groupby().first()). */
  val a11First: QueryDef = QueryDef(
    "a11_first_per_group",
    (s, dir) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"event_type".as("first_type"),
                epochS($"ts").as("first_e"))
        .orderBy($"user_id")
    },
    Some(s"""SELECT user_id, event_type AS first_type, ${epochSql("ts")} AS first_e
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id"""))

  /** W2: per-group count transform broadcast back to rows. */
  val w2Count: QueryDef = QueryDef(
    "w2_count_transform",
    (s, dir) => graft.operators.Windows.countTransform(
        t(s, dir, "events").select($"event_id", $"user_id"), Seq("user_id"))
      .orderBy($"event_id"),
    Some("""SELECT event_id, user_id,
      COUNT(*) OVER (PARTITION BY user_id) AS group_count
      FROM events ORDER BY event_id"""))

  /** A12: the deterministic `df.summary()` surface — exact percentiles
    * (Spark `percentile` ↔ DuckDB `quantile_cont`, both exact interpolated)
    * and mean/std through the integer/fraction LONG-SPLIT kernel
    * ([[graft.operators.Agg.summaryStats]]): floor(x) and the 8-dp
    * floor-quantized fraction summed as BIGINTs (order-independent,
    * primitive speed — replaced the 5.6×-slower BigDecimal accumulators),
    * reconstructed int + frac/1e8 on emit; int64→double is correctly
    * rounded on both engines, so the values pin exactly.
    */
  val a12Summary: QueryDef = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    // the long-split moment sums, mirrored token for token: DuckDB
    // SUM(BIGINT) returns HUGEINT, so the inner CAST(... AS BIGINT) pins
    // the int64 value (loud on overflow) before the double cast
    def splitSum(e: String): String =
      s"""CAST(CAST(SUM(CAST(FLOOR($e) AS BIGINT)) AS BIGINT) AS DOUBLE)
        + CAST(CAST(SUM(CAST(FLOOR(($e - FLOOR($e)) * 1.0E8) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E8"""
    QueryDef(
      "a12_summary",
      (s, dir) => graft.operators.Agg.summaryStats(
          Core.table(s, dir, "lineitem"), cols)
        .orderBy(col("column")),
      Some(cols.map { c =>
        val v = s"CAST($c AS DOUBLE)"
        s"""SELECT "column", n,
          ROUND(s1 / n, 6) AS mean,
          ROUND(SQRT(GREATEST(0.0, (s2 - s1 * s1 / n) / (n - 1))), 6) AS std,
          min, p25, p50, p75, max
        FROM (SELECT '$c' AS "column", COUNT($c) AS n,
          ${splitSum(v)} AS s1,
          ${splitSum(s"($v * $v)")} AS s2,
          ROUND(MIN($v), 6) AS min,
          ROUND(quantile_cont($v, 0.25), 6) AS p25,
          ROUND(quantile_cont($v, 0.5), 6) AS p50,
          ROUND(quantile_cont($v, 0.75), 6) AS p75,
          ROUND(MAX($v), 6) AS max
        FROM lineitem)"""
      }.mkString("", " UNION ALL ", " ORDER BY \"column\"")))
  }

  /** 8-lag truncated EWMA (α = 1/2) per user in (ts, event_id) order. The
    * 2⁻ʲ weights are exact binary doubles, so both engines weight with
    * identical constants.
    */
  val ewmaSmooth: QueryDef = {
    val lags = 8
    def wStr(j: Int): String =
      new java.math.BigDecimal(math.pow(0.5, j)).toPlainString
    val lagCols = (0 until lags).map { j =>
      if (j == 0) "value AS x0"
      else s"LAG(value, $j) OVER w AS x$j"
    }.mkString(",\n          ")
    val num = (0 until lags).map(j =>
      s"CASE WHEN x$j IS NOT NULL THEN x$j * ${wStr(j)} ELSE 0.0 END")
      .mkString(" + ")
    val den = (0 until lags).map(j =>
      s"CASE WHEN x$j IS NOT NULL THEN ${wStr(j)} ELSE 0.0 END")
      .mkString(" + ")
    QueryDef(
      "w8_ewma",
      (s, dir) => Behavior.ewma(t(s, dir, "events"), "user_id", "ts",
          "event_id", "value", alpha = 0.5, lags = lags)
        // partition-aligned output bound (checker-footprint control)
        .filter(col("user_id") < 40)
        .orderBy(col("event_id")),
      Some(s"""WITH l AS (SELECT event_id, user_id, ts, value,
          $lagCols
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id, ts, value,
        ROUND(($num) / ($den), 6) AS ewma
      FROM l WHERE user_id < 40 ORDER BY event_id"""))
  }

  /** Rolling z-score anomaly signal per user (current row scored against
    * its trailing 8-event window, self excluded; windows under 3
    * observations abstain with NULL).
    */
  val rollingZScore: QueryDef = QueryDef(
    "w9_rolling_zscore",
    (s, dir) => graft.operators.Windows.rollingZScore(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value", lags = 8, minN = 3)
      .orderBy(col("event_id")),
    Some("""WITH l AS (SELECT event_id, user_id, ts, value,
          COUNT(value) OVER w AS n,
          CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER w AS DOUBLE) AS s,
          CAST(SUM(CAST(value * value AS DECIMAL(27,10))) OVER w AS DOUBLE) AS sq,
          MIN(value) OVER w AS mn, MAX(value) OVER w AS mx
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, ts, value,
        CASE WHEN n >= 3 AND mx > mn
             THEN ROUND((value - s/n) / SQRT((sq - s*s/n) / (n - 1.0)), 6)
             END AS zscore
      FROM l ORDER BY event_id"""))

  /** Adaptive 20-bin equi-width value histogram — the two-pass profiling
    * rollup (exact bounds, then one keyed bucket agg).
    */
  val valueHistogram: QueryDef = QueryDef(
    "a15_histogram",
    (s, dir) => graft.operators.Agg.histogram(t(s, dir, "events"),
        "value", nbins = 20)
      .orderBy(col("bucket")),
    Some("""WITH e AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
      b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM e),
      w AS (SELECT lo, (hi - lo) / 20.0 AS wv FROM b),
      k AS (SELECT CAST(CASE WHEN wv > 0.0
              THEN LEAST(GREATEST(FLOOR((v - lo) / wv), 0.0), 19.0)
              ELSE 0.0 END AS INT) AS bucket, lo, wv
        FROM e, w)
      SELECT bucket, ROUND(lo + bucket * wv, 6) AS bucket_lo, COUNT(*) AS n
      FROM k GROUP BY bucket, lo, wv ORDER BY bucket"""))

  /** CUBE over (lang, source): all four grouping sets in one pass with
    * grouping_id disambiguating the NULL-as-total rows from genuine NULL
    * keys — the warehouse subtotal/total rollup as Catalyst plans it
    * (one Expand + one aggregate, not four scans).
    */
  val cubeAccounting: QueryDef = QueryDef(
    "a16_cube",
    (s, dir) => t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        dsum6(col("n_chars")).as("sum_chars"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("lang"), col("source")),
    Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
        ${dsum6Sql("n_chars")} AS sum_chars,
        CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid
      FROM documents GROUP BY CUBE (lang, source)
      ORDER BY gid, lang, source"""))

  /** Trailing one-hour RANGE window per user: the event-TIME frame (every
    * event within 3600 s, however many rows that is) — the frame family
    * the ROWS-based windows (W6, w8, w9) can't express. Ordered by epoch
    * seconds so both engines bound the identical frame.
    */
  val rangeFrame: QueryDef = QueryDef(
    "w10_range_frame",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val sec = epochS(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(sec)
        .rangeBetween(-3600L, 0L)
      ev.select(col("event_id"), col("user_id"), col("ts"), col("value"),
          count(lit(1)).over(w).as("n_1h"),
          round(dsumOver(col("value"), w), 6).as("sum_1h"))
        // partition-aligned output bound (checker-footprint control)
        .filter(col("user_id") < 40)
        .orderBy(col("event_id"))
    },
    Some(s"""SELECT event_id, user_id, ts, value,
        COUNT(*) OVER w AS n_1h,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER w AS DOUBLE), 6) AS sum_1h
      FROM events
      WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ${epochSql("ts")}
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** Dynamic pivot: per user-decile event-type counts as columns. The
    * pivot value list is passed EXPLICITLY (sorted) — Catalyst then plans
    * a single aggregate with one conditional count per column instead of
    * the values-discovery extra job, and the output schema is stable for
    * the mirror.
    */
  val pivotCounts: QueryDef = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    QueryDef(
      "a17_pivot",
      (s, dir) => t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("ub"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .orderBy(col("ub")),
      Some(s"""SELECT user_id % 10 AS ub,
          ${types.map(tp => s"COUNT(*) FILTER (event_type = '$tp') AS $tp")
            .mkString(",\n          ")}
        FROM events GROUP BY 1 ORDER BY ub"""))
  }

  /** NTILE quartiles per event type over a (value, id) total order — the
    * ranked-bucketing window (both engines split remainder rows into the
    * leading tiles over the identical order, so the assignment is
    * deterministic and mirrorable).
    */
  val ntileQuartiles: QueryDef = QueryDef(
    "a18_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          ntile(4).over(w).as("quartile"))
        // POST-window bound: event_id is not the partition key, so the
        // filter must stay above the window (Catalyst only pushes
        // partition-key predicates below a Window) — quartiles are still
        // assigned over the full table, the dump is just smaller
        .filter(col("event_id") < 2000)
        .orderBy(col("event_id"))
    },
    Some("""SELECT * FROM (
        SELECT event_id, event_type, value,
          CAST(NTILE(4) OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS INT) AS quartile
        FROM events)
      WHERE event_id < 2000 ORDER BY event_id"""))

  /** Batch hopping-window aggregation (10-min windows, 5-min hop): the
    * overlapping-window family — each event lands in TWO windows via
    * Spark's `window()` generator (one Expand, map-side), mirrored by a
    * two-offset union. Tumbling is the hop == width special case (P3).
    */
  val hoppingWindow: QueryDef = QueryDef(
    "w11_hopping_window",
    (s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum6(col("value")).as("sum_v"))
      .select(epochS(col("w.start")).as("w_start"), col("event_type"),
        col("n"), col("sum_v"))
      .orderBy(col("w_start"), col("event_type")),
    Some(s"""WITH e AS (SELECT event_type, value,
          ${epochSql("ts")} AS sec FROM events),
      x AS (SELECT event_type, value, sec - (sec % 300) AS w_start FROM e
        UNION ALL
        SELECT event_type, value,
          sec - (sec % 300) - 300 AS w_start FROM e)
      SELECT w_start, event_type, COUNT(*) AS n,
        ${dsum6Sql("value")} AS sum_v
      FROM x GROUP BY w_start, event_type ORDER BY w_start, event_type"""))

  /** ROLLUP over (lang, source): the hierarchical-subtotal grouping-set
    * shape (per-lang subtotals + grand total, no source-only sets) —
    * cube's ordered sibling, same one-Expand plan.
    */
  val rollupAccounting: QueryDef = QueryDef(
    "a19_rollup",
    (s, dir) => t(s, dir, "documents")
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("lang"), col("source")),
    Some("""SELECT lang, source, COUNT(*) AS n_docs,
        CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid
      FROM documents GROUP BY ROLLUP (lang, source)
      ORDER BY gid, lang, source"""))

  /** percent_rank + cume_dist over a (value, id) total order — the two
    * normalized rank metrics completing the window-rank family (NTILE is
    * a18); both are pure functions of the row's position so they mirror
    * exactly.
    */
  val rankMetrics: QueryDef = QueryDef(
    "w12_rank_metrics",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, event_type,
        ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        ROUND(CUME_DIST() OVER w, 6) AS cd
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      ORDER BY event_id"""))

  /** Modified z-score outlier summary per event_type: exact rank-selected
    * median and MAD on both engines (no quantile-interpolation semantics
    * in play — AVG of the same one or two middle doubles), flag count at
    * the Iglewicz-Hoaglin 3.5 bound.
    */
  val madOutliers: QueryDef = {
    val zt = 3.5
    def medSql(src: String, vc: String, out: String): String =
      s"""SELECT event_type, AVG($vc) AS $out FROM (
          SELECT event_type, $vc, ROW_NUMBER() OVER
            (PARTITION BY event_type ORDER BY $vc) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n FROM $src)
        WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
           OR rn = CAST(FLOOR(n / 2) AS BIGINT) + 1
        GROUP BY event_type"""
    QueryDef(
      "a20_mad_outliers",
      (s, dir) => graft.operators.Agg.madOutliers(
          t(s, dir, "events"), "event_type", "value", zThresh = zt)
        .orderBy(col("event_type")),
      Some(s"""WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v
          FROM events WHERE value IS NOT NULL),
        med AS MATERIALIZED (${medSql("b", "v", "med")}),
        dev AS (SELECT b.event_type, b.v, m.med, ABS(b.v - m.med) AS d
          FROM b JOIN med m USING (event_type)),
        mad AS MATERIALIZED (${medSql("dev", "d", "mad")}),
        z AS (SELECT dv.event_type, dv.v, dv.med, md.mad,
            CASE WHEN md.mad > 0 THEN
              ROUND(CAST(0.6745 AS DOUBLE) * (dv.v - dv.med) / md.mad, 6)
            END AS zv
          FROM dev dv JOIN mad md USING (event_type))
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(ANY_VALUE(med), 6) AS med, ROUND(ANY_VALUE(mad), 6) AS mad,
        CAST(SUM(CASE WHEN (mad > 0 AND ABS(zv) > $zt)
                   OR (mad <= 0 AND v <> med) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers,
        ROUND(MAX(ABS(zv)), 6) AS max_abs_z
      FROM z GROUP BY event_type ORDER BY event_type"""))
  }

  /** Per-event-type OLS trend of value on time (days since epoch day
    * 20000, i.e. 2024-10-04): slope/intercept/R² from decimal-exact
    * sufficient statistics. The fixed x-offset is load-bearing for the
    * cross-engine gate: with raw epoch days (mean ≈ 20600, spread a few
    * hundred) the normal-equation cancellation n·Σx² − (Σx)² amplifies
    * double ULP noise past the 6-dp round (observed: intercept off by
    * 5e-6); centering cuts the mean/spread ratio ~50× and the amplified
    * error ~2500×.
    */
  val a21GroupedOls: QueryDef = {
    val sums = Seq("x" -> "sx", "y" -> "sy", "x * x" -> "sxx",
      "x * y" -> "sxy", "y * y" -> "syy")
      .map { case (e, n) =>
        s"CAST(SUM(CAST(($e) AS DECIMAL(27,10))) AS DOUBLE) AS $n" }
      .mkString(",\n          ")
    QueryDef(
      "a21_grouped_ols",
      (s, dir) => Stats.groupedOls(
          t(s, dir, "events")
            .select(col("event_type"),
              (unix_timestamp(col("ts")) / lit(86400.0) - lit(20000.0)).as("x"),
              col("value").as("y")),
          "event_type", "x", "y")
        .orderBy(col("event_type")),
      Some(s"""WITH b AS (SELECT event_type,
          CAST(FLOOR(EPOCH(ts)) AS BIGINT) / 86400.0 - 20000.0 AS x,
          value AS y
          FROM events),
        s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          $sums,
          MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
          FROM b WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1)
      SELECT event_type, n,
        CASE WHEN mxx > mnx THEN
          ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
            (CAST(n AS DOUBLE) * sxx - sx * sx), 6) END AS slope,
        CASE WHEN mxx > mnx THEN
          ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
              (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) /
            CAST(n AS DOUBLE), 6) END AS intercept,
        CASE WHEN mxx > mnx AND mxy > mny THEN
          ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy) *
              (CAST(n AS DOUBLE) * sxy - sx * sy)) /
            ((CAST(n AS DOUBLE) * sxx - sx * sx) *
              (CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS r2
      FROM s ORDER BY event_type"""))
  }

  /** Winsorization audit per event type: exact interpolated [p05, p95]
    * clip bounds (quantile_cont semantics), per-tail clip counts, and the
    * decimal-exact winsorized sum.
    */
  val winsorize: QueryDef = QueryDef(
    "a22_winsorize",
    (s, dir) => Stats.winsorize(t(s, dir, "events"),
        "event_type", "value", pLo = 0.05, pHi = 0.95)
      .orderBy(col("event_type")),
    Some("""WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL),
      q AS MATERIALIZED (SELECT event_type,
        quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
        FROM b GROUP BY 1)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(ANY_VALUE(lo), 6) AS p_lo, ROUND(ANY_VALUE(hi), 6) AS p_hi,
      CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      CAST(ROUND(SUM(CAST(LEAST(GREATEST(v, lo), hi) AS DECIMAL(27,10))), 6)
        AS DOUBLE) AS sum_winsorized
    FROM b JOIN q USING (event_type)
    GROUP BY event_type ORDER BY event_type"""))

  /** Phrase-index lookup: top-20 documents by occurrence count of the
    * corpus phrase "table hash" (46 matching docs at sf0.01, some with
    * multiple occurrences — counts, not membership, are gated).
    */
  val phraseTopK: QueryDef = {
    val phrase = "table hash"; val k = 20
    QueryDef(
      "w13_phrase_topk",
      (s, dir) => graft.llm.TextAnalysis.phraseTopK(
          t(s, dir, "documents"), "doc_id", "text", phrase, k = k)
        .orderBy(col("rank")),
      Some(s"""WITH w AS (SELECT doc_id, ${toksSql} AS w FROM documents),
        g AS (SELECT doc_id, unnest([array_to_string(w[i : i + 1], ' ')
          for i in generate_series(1, len(w) - 1)]) AS sh FROM w),
        c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occur FROM g
          WHERE sh = '$phrase' GROUP BY 1),
        r AS (SELECT doc_id, n_occur, ROW_NUMBER() OVER
          (ORDER BY n_occur DESC, doc_id) AS rank FROM c)
      SELECT CAST(rank AS INT) AS rank, doc_id, n_occur
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Exponentially time-decayed engagement score per event type
    * (λ = 0.01/day against a fixed 2026-01-01 reference): each term is
    * exp-rounded at 9 dp — the libm determinism treatment — then
    * decimal-summed.
    */
  val timeDecay: QueryDef = {
    val refEpoch = 1767225600L // 2026-01-01T00:00:00Z
    val lambda = 0.01
    QueryDef(
      "w14_time_decay",
      (s, dir) => {
        val dd = (lit(refEpoch) - unix_timestamp(col("ts"))) / lit(86400.0)
        val term = round(col("value") * exp(lit(-lambda) * dd), 9)
        t(s, dir, "events").filter(col("value").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            dsum6(term).as("decayed_sum"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(ROUND(SUM(CAST(ROUND(value *
            EXP(-$lambda * (($refEpoch - CAST(FLOOR(EPOCH(ts)) AS BIGINT))
              / 86400.0)), 9) AS DECIMAL(27,10))), 6) AS DOUBLE)
            AS decayed_sum
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type ORDER BY event_type"""))
  }

  /** Exact trailing rolling median (7-row frame) per user, output bounded
    * to user_id < 40 (keeps the DuckDB mirror's window footprint small).
    */
  val rollingMedian: QueryDef = QueryDef(
    "w15_rolling_median",
    (s, dir) => Windows.rollingMedian(
        t(s, dir, "events")
          .filter(col("user_id") < 40 && col("value").isNotNull),
        "user_id", "ts", "event_id", "value", lags = 6)
      .orderBy(col("user_id"), col("ts"), col("event_id")),
    Some("""WITH b AS (SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
        FROM events WHERE user_id < 40 AND value IS NOT NULL),
      l AS (SELECT event_id, user_id, ts, v,
        list_sort(list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals FROM b)
    SELECT event_id, user_id, ts, v AS value,
      ROUND((vals[CAST(FLOOR((len(vals) + 1) / 2) AS INT)] +
             vals[CAST(FLOOR(len(vals) / 2) AS INT) + 1]) / 2.0, 6)
        AS rolling_median
    FROM l ORDER BY user_id, ts, event_id"""))

  /** Pairwise Pearson correlations among (value, hour, day-of-month)
    * from one sufficient-statistics pass.
    */
  val corrMatrix: QueryDef = {
    def pair(a: String, b: String) =
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
        CASE WHEN mx_$a > mn_$a AND mx_$b > mn_$b THEN
          ROUND((CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b) /
            SQRT((CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a) *
              (CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)), 6) END AS corr
        FROM m"""
    QueryDef(
      "a24_corr_pairs",
      (s, dir) => Stats.corrPairs(
          t(s, dir, "events")
            .select(col("value").as("v"),
              hour(col("ts")).cast("double").as("hr"),
              dayofmonth(col("ts")).cast("double").as("dom")),
          Seq("v", "hr", "dom"))
        .orderBy(col("col_a"), col("col_b")),
      Some(s"""WITH b AS (SELECT CAST(value AS DOUBLE) AS v,
          CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS hr,
          CAST(EXTRACT(DAY FROM ts) AS DOUBLE) AS dom
          FROM events
          WHERE value IS NOT NULL AND ts IS NOT NULL),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          ${dsumSql("v")} AS s_v, ${dsumSql("v * v")} AS ss_v,
          ${dsumSql("hr")} AS s_hr, ${dsumSql("hr * hr")} AS ss_hr,
          ${dsumSql("dom")} AS s_dom, ${dsumSql("dom * dom")} AS ss_dom,
          ${dsumSql("v * hr")} AS sp_v_hr, ${dsumSql("v * dom")} AS sp_v_dom,
          ${dsumSql("hr * dom")} AS sp_hr_dom,
          MIN(v) AS mn_v, MAX(v) AS mx_v, MIN(hr) AS mn_hr, MAX(hr) AS mx_hr,
          MIN(dom) AS mn_dom, MAX(dom) AS mx_dom
          FROM b)
      ${pair("v", "hr")} UNION ALL ${pair("v", "dom")}
      UNION ALL ${pair("hr", "dom")}
      ORDER BY col_a, col_b"""))
  }

  /** GROUPING SETS with grouping_id — the arbitrary-combination variant
    * completing the cube (a16) / rollup (a19) family.
    */
  val groupingSets: QueryDef = QueryDef(
    "a25_grouping_sets",
    (s, dir) => t(s, dir, "events")
      .select(col("event_type"), hour(col("ts")).as("hr"), col("value"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("hr")), Seq.empty),
        col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"),
        dsum6(col("value")).as("sum_v"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("event_type"), col("hr")),
    Some(s"""SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
        CAST(COUNT(*) AS BIGINT) AS n, ${dsum6Sql("value")} AS sum_v,
        CAST(GROUPING(event_type, EXTRACT(HOUR FROM ts)) AS INT) AS gid
      FROM events
      GROUP BY GROUPING SETS ((event_type), (EXTRACT(HOUR FROM ts)), ())
      ORDER BY gid, event_type, hr"""))

  /** Longest consecutive-day streak per user (user_id < 60 slice bounds
    * the dump) — the gaps-and-islands pattern under the gate.
    */
  val longestStreak: QueryDef = QueryDef(
    "w16_longest_streak",
    (s, dir) => graft.operators.Behavior.longestStreak(
        t(s, dir, "events").filter(col("user_id") < 60), "user_id", "ts")
      .orderBy(col("user_id")),
    Some("""WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id < 60),
      isl AS (SELECT user_id,
          (day - DATE '1970-01-01') - ROW_NUMBER() OVER
            (PARTITION BY user_id ORDER BY day) AS grp
        FROM active),
      runs AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY 1, 2)
    SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      CAST(COUNT(*) AS BIGINT) AS n_streaks,
      CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM runs GROUP BY 1 ORDER BY user_id"""))

  /** Mergeable partial aggregates: per-day (n, decimal sum) partials
    * re-aggregated to per-type totals. The ORACLE is the DIRECT
    * single-pass aggregation — the gate proves the partial-merge algebra
    * is lossless, which is the contract every incremental/streaming
    * rollup in this engine leans on.
    */
  val partialMerge: QueryDef = QueryDef(
    "a26_partial_merge",
    (s, dir) => {
      val partials = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("pn"),
          sum(dec(col("value"))).as("psum"))
      partials.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          round(sum(col("psum")), 6).cast("double").as("sum_v"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        ${dsum6Sql("value")} AS sum_v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  /** Running distinct-so-far count per user over their event stream:
    * exact, via the first-occurrence flag + cumulative sum — the pattern
    * that computes an otherwise "impossible" windowed COUNT(DISTINCT)
    * with two ordinary windows.
    */
  val runningDistinct: QueryDef = QueryDef(
    "w17_running_distinct",
    (s, dir) => {
      val wt = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events").filter(col("user_id") < 40)
        .withColumn("__first",
          when(row_number().over(wt) === 1, 1L).otherwise(0L))
        .withColumn("n_distinct_types", sum(col("__first")).over(wc))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("n_distinct_types"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""WITH f AS (SELECT event_id, user_id, ts,
        CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fst
        FROM events WHERE user_id < 40)
    SELECT event_id, user_id, ts,
      CAST(SUM(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_distinct_types
    FROM f ORDER BY user_id, ts, event_id"""))

  /** OHLC bars: per (user, 6-hour bar) open/high/low/close of value with
    * (ts, event_id)-ordered first/last — the time-bar aggregation of
    * every market-data pipeline, via min/max_by on the composite order
    * key.
    */
  val ohlcBars: QueryDef = QueryDef(
    "w18_ohlc_bars",
    (s, dir) => {
      val bar = (floor(unix_timestamp(col("ts")) / lit(21600L)) * 21600)
        .cast("long").as("bar_start")
      // composite BIGINT order key instead of a struct: DuckDB's
      // min_by/max_by take no struct ordering. The key only has to order
      // WITHIN a bar, so the epoch term is the in-bar offset (< 21600) —
      // offset·10^12 + event_id is exact in int64 with event_id headroom
      // to 10^12 (a full-epoch·10^7 key would alias at event_id = 10^7)
      val ord = ((unix_timestamp(col("ts")) -
          floor(unix_timestamp(col("ts")) / lit(21600L)) * 21600) *
        lit(1000000000000L) + col("event_id")).as("ord")
      t(s, dir, "events").filter(col("value").isNotNull && col("user_id") < 60)
        .select(col("user_id"), bar, ord, col("value"))
        .groupBy(col("user_id"), col("bar_start"))
        .agg(count(lit(1)).as("n"),
          min_by(col("value"), col("ord")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ord")).as("close"))
        .orderBy(col("user_id"), col("bar_start"))
    },
    Some(s"""SELECT user_id,
        CAST(FLOOR(${epochSql("ts")} / 21600) * 21600 AS BIGINT)
          AS bar_start,
        CAST(COUNT(*) AS BIGINT) AS n,
        MIN_BY(value, (${epochSql("ts")}
          - CAST(FLOOR(${epochSql("ts")} / 21600) * 21600 AS BIGINT))
          * 1000000000000 + event_id) AS open,
        MAX(value) AS high, MIN(value) AS low,
        MAX_BY(value, (${epochSql("ts")}
          - CAST(FLOOR(${epochSql("ts")} / 21600) * 21600 AS BIGINT))
          * 1000000000000 + event_id) AS close
      FROM events WHERE value IS NOT NULL AND user_id < 60
      GROUP BY 1, 2 ORDER BY user_id, bar_start"""))

  /** Ordered string aggregation: each user's distinct event types as a
    * sorted comma-joined list — deterministic on both engines because
    * the order is explicit (array_sort ↔ ORDER BY inside string_agg).
    */
  val listAgg: QueryDef = QueryDef(
    "a28_listagg",
    (s, dir) => t(s, dir, "events").filter(col("user_id") < 30)
      .groupBy(col("user_id"))
      .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
        .as("types_csv"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
        STRING_AGG(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
        CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events WHERE user_id < 30
      GROUP BY user_id ORDER BY user_id"""))

  /** Run-length encoding of event-type runs per user (the
    * rn − rn-per-type islands trick): runs, longest run, switches.
    */
  val typeRuns: QueryDef = QueryDef(
    "w19_type_runs",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wt = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val runs = t(s, dir, "events").filter(col("user_id") < 60)
        .withColumn("__grp", row_number().over(w) - row_number().over(wt))
        .groupBy(col("user_id"), col("event_type"), col("__grp"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_runs"),
          max(col("len")).as("longest_run"),
          sum(col("len")).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""WITH r AS (SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) -
        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          ORDER BY ts, event_id) AS grp
        FROM events WHERE user_id < 60),
      runs AS (SELECT user_id, event_type, grp,
        CAST(COUNT(*) AS BIGINT) AS len FROM r GROUP BY 1, 2, 3)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
      CAST(MAX(len) AS BIGINT) AS longest_run,
      CAST(SUM(len) AS BIGINT) AS n_events
    FROM runs GROUP BY 1 ORDER BY user_id"""))

  /** Time-weighted average value (TWAP) per (user, day): each
    * observation holds until the next one (the last until midnight), so
    * irregular sampling cannot bias the mean the way a row-average does.
    * One per-key lead window + decimal-weighted sums.
    */
  val twap: QueryDef = QueryDef(
    "w20_twap",
    (s, dir) => {
      val day = to_date(col("ts"))
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("user_id") < 60)
        .select(col("user_id"), day.as("day"), col("ts"), col("event_id"),
          col("value"))
        .withColumn("__end",
          coalesce(unix_timestamp(lead(col("ts"), 1).over(w)),
            unix_timestamp(date_add(col("day"), 1).cast("timestamp"))))
        .withColumn("__w",
          (col("__end") - unix_timestamp(col("ts"))).cast("double"))
      ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"),
          round(dsum(col("value") * col("__w")) / dsum(col("__w")), 6)
            .as("twap"),
          r6(dmean(col("value"))).as("row_mean"))
        .orderBy(col("user_id"), col("day"))
    },
    Some(s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, ts,
        event_id, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL AND user_id < 60),
      wt AS (SELECT user_id, day, v,
        CAST(COALESCE(
            ${epochSql("LEAD(ts, 1) OVER (PARTITION BY user_id, day ORDER BY ts, event_id)")},
            ${epochSql("CAST(day + 1 AS TIMESTAMP)")}) -
          ${epochSql("ts")} AS DOUBLE) AS w
        FROM ev)
    SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(SUM(CAST((v * w) AS DECIMAL(27,10))) AS DOUBLE) /
        CAST(SUM(CAST(w AS DECIMAL(27,10))) AS DOUBLE), 6) AS twap,
      ROUND(${dmeanSql("v")}, 6) AS row_mean
    FROM wt GROUP BY 1, 2 ORDER BY user_id, day"""))

  /** Maximum drawdown of each user's cumulative (value − 50) series —
    * running peak minus running level, the classic risk metric, from two
    * stacked windows over one per-key sort.
    */
  val maxDrawdown: QueryDef = QueryDef(
    "w21_max_drawdown",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("user_id") < 60)
        .withColumn("__cum",
          dsumOver(col("value") - lit(50.0), w))
        .withColumn("__peak", max(col("__cum")).over(w))
        // final_level order key: the per-key row number over the SAME
        // (ts, event_id) sort the running windows use (one WindowExec) —
        // bounded by group size, unlike a packed epoch·K + event_id key,
        // which silently aliases once event_id reaches K
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(max(col("__peak") - col("__cum")), 6).as("max_drawdown"),
          round(max_by(col("__cum"), col("__rn")), 6).as("final_level"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ev AS (SELECT user_id, ts, event_id,
        CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL AND user_id < 60),
      c AS (SELECT user_id, ts, event_id,
        CAST(SUM(CAST((v - 50.0) AS DECIMAL(27,10))) OVER
          (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS cum
        FROM ev),
      p AS (SELECT user_id, ts, event_id, cum,
        MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS rn
        FROM c)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(MAX(peak - cum), 6) AS max_drawdown,
      ROUND(MAX_BY(cum, rn), 6) AS final_level
    FROM p GROUP BY 1 ORDER BY user_id"""))

  /** Day-over-day percentage change of daily per-type volume and value —
    * the period-over-period BI metric, with NULL on the first day and on
    * a zero base.
    */
  val pctChange: QueryDef = QueryDef(
    "w22_pct_change",
    (s, dir) => {
      val daily = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), dsum6(col("value")).as("sum_v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("__pn", lag(col("n"), 1).over(w))
        .withColumn("__pv", lag(col("sum_v"), 1).over(w))
        .select(col("event_type"), col("day"), col("n"), col("sum_v"),
          when(col("__pn") > 0,
            round((col("n") - col("__pn")).cast("double") /
              col("__pn").cast("double"), 6)).as("n_pct_change"),
          when(abs(col("__pv")) > 0,
            round((col("sum_v") - col("__pv")) / col("__pv"), 6))
            .as("v_pct_change"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS n, ${dsum6Sql("value")} AS sum_v
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      l AS (SELECT event_type, day, n, sum_v,
        LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS pn,
        LAG(sum_v, 1) OVER (PARTITION BY event_type ORDER BY day) AS pv
        FROM d)
    SELECT event_type, day, n, sum_v,
      CASE WHEN pn > 0 THEN
        ROUND(CAST(n - pn AS DOUBLE) / CAST(pn AS DOUBLE), 6) END
        AS n_pct_change,
      CASE WHEN ABS(pv) > 0 THEN ROUND((sum_v - pv) / pv, 6) END
        AS v_pct_change
    FROM l ORDER BY event_type, day"""))

  val all: Seq[QueryDef] = Seq(
    a4DbMean, a5MaxBy, a7Hourly, a10Distinct, a14Stats, w1Sessionize, w3DenseRank,
    w6Slope, w7Lag, a11First, w2Count, a12Summary, ewmaSmooth, rollingZScore,
    valueHistogram, cubeAccounting, rangeFrame, pivotCounts, ntileQuartiles,
    hoppingWindow, rollupAccounting, rankMetrics, madOutliers, a21GroupedOls, winsorize,
    phraseTopK, timeDecay, rollingMedian, corrMatrix, groupingSets, longestStreak,
    partialMerge, runningDistinct, ohlcBars, listAgg, typeRuns, twap, maxDrawdown,
    pctChange)
}
