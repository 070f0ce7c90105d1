package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.dsumOver

/** Window / sessionization operators (SURVEY.md §2.5).
  *
  * All windows partition by a key so the sort is per-partition after one
  * shuffle — no global ordering anywhere in the hot path.
  */
object Windows {

  /** W1: event segmentation (sessionization) — gap over `maxGapSeconds` starts
    * a new session; session id = running count of gap-starts
    * (reference: ml/utils.py:71-126 split_event: diff of timestamps, cumsum of
    * jumps). Used for CV event splits (M5).
    */
  def sessionize(df: DataFrame, key: String, tsCol: String,
                 maxGapSeconds: Long, sessionCol: String = "session_id"): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(col(tsCol))
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(byKey))
    df.withColumn("__new_sess", when(gap.isNull || gap > maxGapSeconds, 1).otherwise(0))
      .withColumn(sessionCol,
        sum(col("__new_sess")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new_sess")
  }

  /** W2: per-group count broadcast back to rows (reference: ml/rf.py:215-216
    * transform('count')).
    */
  def countTransform(df: DataFrame, keys: Seq[String], as: String = "group_count"): DataFrame =
    df.withColumn(as, count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))

  /** W3/A8: contiguous dense group ids (reference: ml/rf.py:225-243
    * np.unique(return_inverse) + rankdata(dense)). NOT public API: the
    * global dense_rank single-partition-sorts the FULL input, so this is
    * kept package-private purely as the reference semantics
    * [[denseGroupIdScalable]] is spec'd equal to (AggWindowsSpec) — the
    * cosineComposed pattern. Library users get only the scalable variant
    * and cannot global-sort a table by accident.
    */
  private[graft] def denseGroupId(df: DataFrame, keys: Seq[String], as: String = "group_id"): DataFrame =
    df.withColumn(as, dense_rank().over(Window.orderBy(keys.map(col): _*)) - 1)

  /** W3/A8 at scale: same contract as [[denseGroupId]] but the global sort
    * only ever touches the DISTINCT key set (small by construction — group
    * ids are only meaningful for modest key cardinality), which is then
    * broadcast-joined back onto the full table. The full table is never
    * globally sorted, so the plan survives a 100× scale-up: one shuffle for
    * the distinct, one tiny window, one broadcast join.
    */
  def denseGroupIdScalable(df: DataFrame, keys: Seq[String], as: String = "group_id"): DataFrame = {
    val kc = keys.map(col)
    val ids = df.select(kc: _*).distinct()
      .withColumn(as, dense_rank().over(Window.orderBy(kc: _*)) - 1)
    // null-safe equality: distinct() keeps a NULL-key group and DENSE_RANK
    // ranks it, so the join back must match it too (a plain equi-join would
    // silently drop NULL-key rows, diverging from denseGroupId)
    val renamed = ids.select(
      (keys.map(k => col(k).as(s"__k_$k")) :+ col(as)): _*)
    val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    df.join(broadcast(renamed), cond).drop(keys.map(k => s"__k_$k"): _*)
  }

  /** W6: windowed least-squares slope over an ordered 1-D neighborhood —
    * the KDP moving least-square fit (reference:
    * common/radarprocessing.py:307-354 kdp_leastsquare_single_window).
    * slope = (E[xy] − E[x]E[y]) / (E[x²] − E[x]²) over ±halfWidth rows,
    * all window aggregates → one sort per (partition keys) group.
    */
  def rollingSlope(df: DataFrame, partitionKeys: Seq[String], orderCol: String,
                   xCol: Column, yCol: Column, halfWidth: Int,
                   as: String = "slope"): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(-halfWidth, halfWidth)
    val exy = avg(xCol * yCol).over(w)
    val ex = avg(xCol).over(w)
    val ey = avg(yCol).over(w)
    val ex2 = avg(xCol * xCol).over(w)
    df.withColumn(as, (exy - ex * ey) / (ex2 - ex * ex))
  }

  /** W6 companion: centered moving average over ±halfWidth rows (PSIDP
    * smoothing, radarprocessing.py:307-331).
    */
  def rollingMean(df: DataFrame, partitionKeys: Seq[String], orderCol: String,
                  valueCol: Column, halfWidth: Int, as: String = "smoothed"): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(-halfWidth, halfWidth)
    df.withColumn(as, avg(valueCol).over(w))
  }

  /** F6 building block: per-ray cumulative sum ordered by range gate — the
    * integral term of the ZPHI attenuation correction
    * (reference: common/radarprocessing.py:271-305).
    */
  def cumulativeSum(df: DataFrame, partitionKeys: Seq[String], orderCol: String,
                    valueCol: Column, as: String = "cumsum"): DataFrame = {
    val w = Window.partitionBy(partitionKeys.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(as, sum(valueCol).over(w))
  }

  /** Rolling z-score anomaly signal: each value scored against the mean
    * and sample stddev of its own trailing window (the current row
    * EXCLUDED — a self-inclusive baseline dampens exactly the spikes it
    * should flag). Windows shorter than `minN` score NULL rather than a
    * garbage early-stream z. Sums accumulate in DECIMAL so the score is
    * partitioning-independent; one per-key window sort, no second
    * exchange.
    */
  def rollingZScore(df: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, valCol: String, lags: Int = 8,
                    minN: Int = 3): DataFrame = {
    require(lags >= 2 && minN >= 2,
      s"rollingZScore needs lags, minN >= 2; got lags=$lags minN=$minN")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-lags, -1)
    val v = col(valCol).cast("double")
    val n = count(v).over(w).cast("double")
    val s = dsumOver(v, w)
    val sq = dsumOver(v * v, w)
    val mean = s / n
    val varS = (sq - s * s / n) / (n - lit(1.0))
    // exact constant-frame test (min < max over the same frame): the
    // double residue of sq − s²/n on a constant non-dyadic window would
    // pass `varS > 0` and emit a rounding-noise z
    val varies = max(v).over(w) > min(v).over(w)
    val z = when(n >= minN && varies,
      round((v - mean) / sqrt(varS), 6))
    df.select(col(idCol), col(keyCol), col(tsCol), col(valCol), z.as("zscore"))
  }
  /** Exact rolling median over the trailing `lags`+1 rows per key: the
    * frame is collected (bounded at lags+1 values), sorted in-row, and
    * the quantile_cont(0.5) middle taken — both engines sort the same
    * ≤(lags+1)-element list, so the median is exact, not approximate.
    * One per-key window sort; the in-row sort is O(lags · log lags) per
    * row with NO extra exchange — right for small windows (the rolling
    * smoother regime), wherever a rolling rank structure would be
    * overkill.
    */
  def rollingMedian(df: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, valCol: String, lags: Int = 6): DataFrame = {
    require(lags >= 1 && lags <= 64, s"rollingMedian: bad lags=$lags")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-lags, 0)
    val vals = array_sort(collect_list(col(valCol).cast("double")).over(w))
    val n = size(vals)
    val med = (element_at(vals, floor((n + lit(1)) / lit(2)).cast("int")) +
      element_at(vals, (floor(n / lit(2)) + lit(1)).cast("int"))) / lit(2.0)
    df.select(col(idCol), col(keyCol), col(tsCol), col(valCol),
      round(med, 6).as("rolling_median"))
  }

  /** Per-key interval-union coverage (gaps-and-islands): merge overlapping
    * [start, end] intervals into maximal contiguous islands and report per
    * key the interval count, island count, total covered seconds (the
    * union length — double-counted overlap removed), and the longest
    * island. Touching intervals (next.start == running max end) merge; a
    * strictly greater start opens a new island.
    *
    * Scale shape: two key-partitioned windows over one sort order
    * (running max end → island flag → running island id) + one
    * map-combinable two-level aggregation. Pure integer epoch arithmetic —
    * exact on any engine.
    */
  def intervalCoverage(df: DataFrame, keyCol: String, startCol: String,
                       endCol: String, tieCol: String): DataFrame = {
    val s = unix_timestamp(col(startCol))
    val e = unix_timestamp(col(endCol))
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(tieCol))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        e >= s)
      .select(col(keyCol), col(startCol), col(tieCol), s.as("__s"), e.as("__e"))
      .withColumn("__pmax", max(col("__e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(wRun))
    val perIsland = flagged.groupBy(col(keyCol), col("__island"))
      .agg(count(lit(1)).as("__cnt"), min(col("__s")).as("__a"),
        max(col("__e")).as("__b"))
    perIsland.groupBy(col(keyCol))
      .agg(sum(col("__cnt")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__b") - col("__a")).as("covered_secs"),
        max(col("__b") - col("__a")).as("longest_island_secs"))
  }
}
