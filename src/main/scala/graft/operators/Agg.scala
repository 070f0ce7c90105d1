package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.{dec14, dsum14}

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All of these are single-shuffle groupBy aggregations with map-side partial
  * aggregation (Spark's HashAggregate), so they scale linearly with data and
  * never fan through the driver.
  */
object Agg {

  /** dB-domain mean: `10·log10(mean(10^(0.1·x)))` — aggregation method code 1
    * of the reference (common/utils.py:485-508 aggregate_multi;
    * constants.py:319-322). Expressed with codegen'd built-ins only.
    */
  def dbMean(c: Column): Column = log10(avg(pow(lit(10.0), c * 0.1))) * 10.0

  /** A4: temporal aggregation with a per-column operator code:
    * 0 = mean, 1 = dB-mean, 2 = sum (reference: common/utils.py:485-508,
    * per-variable codes constants.py:314-316).
    */
  def aggregateMulti(df: DataFrame, groupCols: Seq[String],
                     ops: Seq[(String, Int)]): DataFrame = {
    val aggs = ops.map {
      case (c, 0) => avg(col(c)).as(s"${c}_mean")
      case (c, 1) => dbMean(col(c)).as(s"${c}_dbmean")
      case (c, 2) => sum(col(c)).as(s"${c}_sum")
      case (c, k) => throw new IllegalArgumentException(s"unknown agg code $k for $c")
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A3: vertical aggregation — per-group weighted mean of each feature,
    * weights supplied as a column (reference: ml/utils.py:16-61
    * vert_aggregation; weights 10^(β·h/1000)·visib/100 built by the caller,
    * ml/rf.py:394,987-992). Null features contribute neither value nor weight
    * (NaN-discipline, SURVEY §7.4).
    */
  def weightedMean(df: DataFrame, groupCols: Seq[String], weight: Column,
                   features: Seq[String]): DataFrame = {
    // decimal accumulators: partition merge order must not move the mean
    // (same exactness contract as accumulate/weightedAccumulate — it is
    // what lets m11_prepare_input mirror this operator hash-exactly)
    val aggs = features.map { f =>
      // NaN features must be excluded like NULLs: the decimal accumulator
      // turns a NaN numerator term into NULL (skipped), so an isNotNull-only
      // guard would still count the row's weight in the denominator — a
      // silent low bias instead of a dropped row
      val w = when(col(f).isNotNull && !isnan(col(f).cast("double")), weight)
      (dsum14(col(f) * w) / dsum14(w)).as(f)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A3 categorical part: weighted one-hot proportions of a categorical column
    * (reference: ml/utils.py:34-50 expands RADAR/HYDRO/TCOUNT into
    * `<col>_prop_<val>` shares). Implemented as a pivot so it stays one
    * shuffle; `values` must be supplied to keep the plan static (no extra
    * distinct job at scale).
    */
  def weightedProportions(df: DataFrame, groupCols: Seq[String], weight: Column,
                          catCol: String, values: Seq[String]): DataFrame = {
    // a NaN weight drops its row from numerator AND total (explicit, not an
    // accident of the decimal cast): proportions stay a partition of 1.0
    val w = when(!isnan(weight.cast("double")), weight)
    val pivoted = df.groupBy(groupCols.map(col): _*)
      .pivot(catCol, values)
      .agg(dsum14(w))
    val total = values.map(v => coalesce(col(v), lit(0.0))).reduce(_ + _)
    // a group with NO weight mass among the pivot values (all rows outside
    // `values`, or all weights NaN/NULL) has total 0: its proportions are
    // NULL, not 0/0 (silent NaN, or a DIVIDE_BY_ZERO job failure under
    // ANSI) — the cosine zero-norm guard pattern
    val withProps = values.foldLeft(pivoted)((d, v) =>
      d.withColumn(s"${catCol}_prop_$v",
        when(total > 0, coalesce(col(v), lit(0.0)) / total)))
    withProps.drop(values: _*)
  }

  /** A5: spatial pixel aggregation — mean plus "value at the gate of max/min
    * ZH" (reference: retrieve_radar_data.py:838-905 _data_at_station; the
    * `_max`/`_min` suffixes mean argmax/argmin by ZH, not column max).
    * Spark's built-in `max_by`/`min_by` are exactly this argmax semantics.
    */
  def meanMaxMinBy(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
                   byCol: String): DataFrame = {
    val aggs = valueCols.flatMap { c =>
      Seq(avg(col(c)).as(s"${c}_mean"),
          max_by(col(c), col(byCol)).as(s"${c}_max"),
          min_by(col(c), col(byCol)).as(s"${c}_min"))
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A6/A9: scatter-add grid aggregation — sum values and counts per Cartesian
    * cell, mean = sum/count, any-valid flag (reference: qpe/qpe_utils.py:31-75
    * pol_to_cart with numba add_at kernels, common/add_at.py:4-23). In Spark
    * the scatter-add IS a groupBy: partial aggregation does the add_at
    * per-partition, the shuffle merges cells.
    */
  def gridScatterAgg(df: DataFrame, xCol: String, yCol: String, valueCol: String): DataFrame =
    df.groupBy(col(xCol), col(yCol)).agg(
      sum(col(valueCol)).as("sum_v"),
      count(col(valueCol)).as("n_v"),
      (sum(col(valueCol)) / count(col(valueCol))).as("mean_v"),
      max(col(valueCol).isNotNull).as("any_valid"))

  /** A9: weighted accumulation over sweeps/radars — union of per-sweep cell
    * DataFrames followed by one groupBy; final estimate = Σ(v·w)/Σw
    * (reference: qpe/qpe.py:613-656 accumulate, 670-676 normalize).
    */
  def weightedAccumulate(parts: Seq[DataFrame], cellCols: Seq[String],
                         valueCol: String, weightCol: String): DataFrame = {
    val all = parts.reduce(_ unionByName _)
    // decimal accumulators: merge order across sweeps/partitions must not
    // leak into the estimate (same contract as the other exact aggs; also
    // what lets a9_weighted_accumulate carry a hash-exact DuckDB oracle).
    // NULL/NaN contributions drop from BOTH sums — without the filter the
    // decimal cast silently skips only the numerator term, biasing the
    // estimate low instead of masking the contribution
    val valid = col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")) &&
      col(weightCol).isNotNull && !isnan(col(weightCol).cast("double"))
    // emitted sums round in DECIMAL space (6 dp) BEFORE the double cast —
    // the dsum6 rule: a raw scale-14 sum's unscaled value passes 2^53 once
    // the sum exceeds ~90, and DuckDB's decimal→double cast double-rounds
    // there (observed: last-ulp sum_w mismatches at sf0.1) where Spark
    // rounds correctly; 6-dp decimals stay exactly representable. The
    // estimate divides the SAME rounded sums so both engines divide
    // bit-identical operands.
    all.filter(valid).groupBy(cellCols.map(col): _*)
      .agg(round(sum(dec14(col(valueCol) * col(weightCol))), 6).cast("double").as("sum_vw"),
           round(sum(dec14(col(weightCol))), 6).cast("double").as("sum_w"))
      .withColumn("estimate", col("sum_vw") / col("sum_w"))
  }

  /** A13: null-aware mean of two columns — temporal smoothing of consecutive
    * feature grids (reference: qpe/qpe.py:684 nanmean over a 2-stack).
    */
  def pairMean(a: Column, b: Column): Column =
    when(a.isNull, b).when(b.isNull, a).otherwise((a + b) / 2.0)

  /** Exact interpolated percentiles of one column via a PARALLEL range sort
    * + positional lookup of only the boundary rows. The scale path: Spark's
    * `percentile` aggregate collects the whole column into a single
    * aggregation buffer (OOM at 100 TB); here the sort is distributed and
    * the driver receives exactly 2 rows per requested quantile. Matches
    * `quantile_cont` semantics: rank = p·(n−1), linear between floor/ceil.
    */
  def exactPercentiles(df: DataFrame, c: String, ps: Seq[Double],
                       knownN: Option[Long] = None): Seq[Double] = {
    val sorted = df.select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .sort(col("v"))
      .rdd.map(_.getDouble(0)).zipWithIndex().map { case (v, i) => (i, v) }
    // always cache: zipWithIndex's internal partition-count job already
    // executes the sort once, and the boundary-row pass below would re-sort
    // from scratch without the materialization
    sorted.cache()
    try {
      val n = knownN.getOrElse(sorted.count())
      if (n == 0) return ps.map(_ => Double.NaN)
      val ranks = ps.map(p => p * (n - 1))
      val needed = ranks.flatMap(r => Seq(r.toLong, math.ceil(r).toLong)).toSet
      val at = sorted.filter { case (i, _) => needed.contains(i) }
        .collect().toMap
      ranks.map { r =>
        val lo = r.toLong
        val hi = math.ceil(r).toLong
        val vlo = at(lo)
        val vhi = at(hi)
        vlo + (vhi - vlo) * (r - lo)
      }
    } finally sorted.unpersist()
  }

  /** Exact interpolated percentiles for MANY columns at once, via selection
    * by counting — shuffle-free aggregation passes and never a global sort
    * of the table:
    *   1. one aggregation: value BRACKETS around every needed order
    *      statistic — from a codegen'd Bernoulli row sample (6σ binomial
    *      rank margin) below `sketchFrom` rows, from a GK
    *      percentile_approx sketch (deterministic n/accuracy rank bound,
    *      interpreted eval — slower, but O(accuracy) state at any n) above;
    *   2. one aggregation: per bracket, rows strictly below `lo` and the
    *      [lo, hi] window size — VERIFYING the bracket actually contains
    *      the target rank, whatever pass 1 estimated — AND, when the
    *      sample's tie-mass estimate says the window is comfortably within
    *      `maxWindow`, the sorted window VALUES in the same scan (a
    *      separate collect pass survives only for sketch-bracketed or
    *      heavy-tie columns).
    * Columns small enough that pass 1's "sample" was the ENTIRE column
    * resolve directly from it — no verify or collect scan at all.
    * The interpolation arithmetic is identical to [[exactPercentiles]]
    * (quantile_cont: rank = p·(n−1), linear between floor/ceil), so results
    * are bit-equal. At 100 TB this replaces a full range-shuffle of the
    * column with 2-3 scan-local aggregations whose buffers are O(accuracy)
    * map-side and O(window) driver-side. Columns whose window exceeds
    * `maxWindow` (pathological tie mass) or whose bracket check fails fall
    * back to the sorted path — exactness is never at risk.
    */
  def exactPercentilesMulti(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                            knownNs: Map[String, Long],
                            maxWindow: Long = 4000000L,
                            sketchFrom: Long = 100000000L,
                            sampleFloor: Long = 1000000L): Map[String, Seq[Double]] = {
    val candCols = cols.filter(c => knownNs.getOrElse(c, 0L) > 0L)
    if (candCols.isEmpty)
      return cols.map(c => c -> ps.map(_ => Double.NaN)).toMap
    val ns = knownNs
    // `sampleFloor` is the full-collect cutoff: a column at or under it IS
    // its own sample (one bounded ≤8 MB collect, direct resolution, no
    // verify/collect scans). ABOVE the cutoff the target drops back to the
    // n/200 Bernoulli rate (50k..2M) — the cutoff must not inflate the
    // sampling target for bigger columns, or a 20-column summary at n=10M
    // would collect 20×1M doubles into one driver row and push 10% of the
    // table through the interpreted object aggregate.
    def sTargetOf(n: Long): Long =
      if (n <= sampleFloor) n
      else math.max(50000L, math.min(2000000L, n / 200L))
    val base = df.select(candCols.map(c => col(c).cast("double").as(c)): _*)
    val sampleCols = candCols.filter(c => ns(c) < sketchFrom)
    val sketchCols = candCols.filterNot(sampleCols.contains)
    // full-column "samples": the coin is lit(true), so pass 1 collects the
    // whole (non-null) column and no verify/collect scan is needed
    val fullSampleCols: Set[String] =
      sampleCols.filter(c => ns(c) <= sTargetOf(ns(c))).toSet
    case class Win(c: String, kLo: Long, kHi: Long)
    def winsFor(c: String, n: Long): Seq[Win] =
      ps.map { p =>
        val r = p * (n - 1)
        Win(c, r.toLong, math.ceil(r).toLong)
      }.distinct
    // pass 1: brackets. Below `sketchFrom` rows: a Bernoulli row sample.
    // The coin is PROJECTED below the aggregate (a nondeterministic
    // expression inside an aggregate function's argument is rejected by
    // some analyzer paths and semantically murky under retries everywhere)
    // and the relation is pre-FILTERED to rows any coin kept: collect_list
    // forces the whole aggregation into interpreted ObjectHashAggregate, so
    // feeding it the full table row-by-row is the slow shape — the
    // codegen'd filter passes ~|sample|·|cols| rows through the interpreted
    // aggregate instead of n (measured 2.3 s → 0.7 s on the a12 gate).
    // This is also why the moments pass of [[summaryStats]] is NOT fused in
    // here: riding codegen'd decimal sums on this object aggregate
    // de-compiles them (measured 0.84 s → 2.3 s for the combined job).
    val samples: Map[String, IndexedSeq[Double]] =
      if (sampleCols.isEmpty) Map.empty
      else {
        val withKeep = sampleCols.zipWithIndex.foldLeft(base) {
          case (d, (c, i)) =>
            val n = ns(c)
            val sTarget = sTargetOf(n)
            val keep = if (n <= sTarget) lit(true)
                       else rand(42 + i) * (n.toDouble / sTarget) < 1.0
            d.withColumn(s"__keep_$c", keep && col(c).isNotNull)
        }
        val kept = withKeep
          .filter(sampleCols.map(c => col(s"__keep_$c")).reduce(_ || _))
        val aggs = sampleCols.map(c =>
          sort_array(collect_list(when(col(s"__keep_$c"), col(c)))).as(s"s_$c"))
        val row = kept.agg(aggs.head, aggs.tail: _*).collect()(0)
        sampleCols.map(c =>
          c -> row.getSeq[Double](row.fieldIndex(s"s_$c")).toIndexedSeq).toMap
      }
    // sketch-bracketed columns (≥ `sketchFrom` rows: ONE GK percentile_approx
    // sketch per column, deterministic n/accuracy rank bound, O(accuracy)
    // state at any n) aggregate over the UNFILTERED relation — a separate
    // job from the sample pass, taken only at sizes where scans are assumed
    // partitioned wide anyway
    val sketchQs: Map[String, Seq[Double]] = sketchCols.map { c =>
      val n = ns(c)
      val margin = n / 1000000L + 1
      c -> winsFor(c, n).flatMap(w => Seq(
        math.max(0.0, (w.kLo - margin).toDouble / n),
        math.min(1.0, (w.kHi + margin).toDouble / n))).distinct.sorted
    }.toMap
    val sketches: Map[String, Map[Double, Double]] =
      if (sketchCols.isEmpty) Map.empty
      else {
        val aggs = sketchCols.map(c =>
          percentile_approx(col(c), array(sketchQs(c).map(lit): _*), lit(1000000))
            .as(s"b_$c"))
        val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
        sketchCols.map { c =>
          val arr = row.getSeq[Double](row.fieldIndex(s"b_$c"))
          c -> sketchQs(c).zip(arr).toMap
        }.toMap
      }
    val live = candCols
    // direct resolution: the sorted "sample" is the whole sorted column
    // (guarded by size == n, so a caller-supplied wrong count cannot lie)
    val direct: Map[String, Seq[Double]] = live
      .filter(c => fullSampleCols.contains(c) && samples.get(c).exists(_.size == ns(c)))
      .map { c =>
        val s = samples(c)
        c -> ps.map { p =>
          val r = p * (ns(c) - 1)
          val lo = r.toLong
          val vlo = s(lo.toInt)
          val vhi = s(math.ceil(r).toLong.toInt)
          vlo + (vhi - vlo) * (r - lo)
        }
      }.toMap
    val pending: Seq[Win] = live.filterNot(direct.contains).flatMap(c => winsFor(c, ns(c)))
    val brackets: Seq[(Double, Double)] = pending.map { w =>
      val n = ns(w.c)
      if (samples.contains(w.c)) {
        val s = samples(w.c)
        val sz = s.size
        // 6σ binomial rank margin in sample units, + slack for the
        // realized-sample-size variance
        val m = math.ceil(6.0 * math.sqrt(0.25 * sz)).toLong + 16
        val iLo = math.round(w.kLo.toDouble / n * sz) - m
        val iHi = math.round(w.kHi.toDouble / n * sz) + m
        (if (iLo < 0) Double.NegativeInfinity else s(iLo.toInt),
         if (iHi > sz - 1) Double.PositiveInfinity else s(iHi.toInt))
      } else {
        val margin = n / 1000000L + 1
        val br = sketches(w.c)
        (br(math.max(0.0, (w.kLo - margin).toDouble / n)),
         br(math.min(1.0, (w.kHi + margin).toDouble / n)))
      }
    }
    // tie-mass window estimate from the sample: |{v ∈ s : lo ≤ v ≤ hi}|
    // scaled to n, with 6σ binomial slack. Only windows this says fit
    // `maxWindow` are collected inside the verify scan; the estimate is
    // reliable precisely when it matters (a huge tie window has a huge,
    // low-variance sample count), so a fused collect cannot blow past
    // ~maxWindow memory even when verification later fails the bracket.
    // TOTAL-ORDER comparisons (java.lang.Double.compare), NOT IEEE: the
    // sample is Spark-sorted (NaN greatest) and the scan-side window
    // predicate `v >= lo && v <= hi` uses Spark's NaN-greatest comparison
    // semantics — with IEEE semantics here, a bracket endpoint landing in a
    // column's NaN tail would estimate ~0 rows while the scan collects
    // every v >= lo (hi=NaN admits all), blowing the fused-collect memory
    // guard. Under total order the NaN-tail window counts its true mass,
    // fails the maxWindow gate, and the column falls back to the sorted
    // path (which collects only boundary rows — bounded at any NaN mass).
    // (-0.0 vs 0.0 divergence from Spark's equality is absorbed by the 6σ
    // slack; correctness is anyway gated by verify+fallback, this count
    // only gates memory.)
    def countInBracket(s: IndexedSeq[Double], lo: Double, hi: Double): Int = {
      var a = 0
      var b = s.size
      while (a < b) { val mid = (a + b) >>> 1
        if (java.lang.Double.compare(s(mid), lo) < 0) a = mid + 1 else b = mid }
      val first = a
      b = s.size
      while (a < b) { val mid = (a + b) >>> 1
        if (java.lang.Double.compare(s(mid), hi) <= 0) a = mid + 1 else b = mid }
      a - first
    }
    val fusableWin: Seq[Boolean] = pending.zip(brackets).map { case (w, (lo, hi)) =>
      samples.get(w.c) match {
        case Some(s) if s.nonEmpty =>
          val cnt = countInBracket(s, lo, hi)
          (cnt + 6.0 * math.sqrt(cnt + 1.0) + 16.0) / s.size * ns(w.c) <= maxWindow
        case _ => false
      }
    }
    // pass 2: verify brackets + window sizes, and collect the fusable
    // windows in the same scan
    val (below, sizes, fusedWindows) =
      if (pending.isEmpty)
        (IndexedSeq.empty[Long], IndexedSeq.empty[Long], Map.empty[Int, Seq[Double]])
      else {
        val aggs = pending.indices.flatMap { i =>
          val (lo, hi) = brackets(i)
          val v = col(pending(i).c)
          Seq(count(when(v < lo, 1)).as(s"below_$i"),
              count(when(v >= lo && v <= hi, 1)).as(s"size_$i")) ++
          (if (fusableWin(i))
             Seq(sort_array(collect_list(when(v >= lo && v <= hi, v))).as(s"w_$i"))
           else Nil)
        }
        val r = base.agg(aggs.head, aggs.tail: _*).collect()(0)
        (pending.indices.map(i => r.getAs[Long](s"below_$i")),
         pending.indices.map(i => r.getAs[Long](s"size_$i")),
         pending.indices.filter(fusableWin).map(i =>
           i -> r.getSeq[Double](r.fieldIndex(s"w_$i"))).toMap)
      }
    val ok = pending.indices.map { i =>
      val w = pending(i)
      below(i) <= w.kLo && below(i) + sizes(i) > w.kHi && sizes(i) <= maxWindow
    }
    // residual pass 3: collect verified windows that could NOT be fused
    // (sketch-bracketed columns, or tie mass too close to maxWindow)
    val residIdx = pending.indices.filter(i => ok(i) && !fusableWin(i))
    val residWindows: Map[Int, Seq[Double]] =
      if (residIdx.isEmpty) Map.empty
      else {
        val aggs = residIdx.map { i =>
          val (lo, hi) = brackets(i)
          val v = col(pending(i).c)
          sort_array(collect_list(when(v >= lo && v <= hi, v))).as(s"w_$i")
        }
        val r = base.agg(aggs.head, aggs.tail: _*).collect()(0)
        residIdx.map(i => i -> r.getSeq[Double](r.fieldIndex(s"w_$i"))).toMap
      }
    val windows = fusedWindows ++ residWindows
    val winAt: Map[(String, Long), Double] = pending.indices.flatMap { i =>
      if (!ok(i)) Nil
      else {
        val w = pending(i)
        val vals = windows(i)
        Seq(w.kLo, w.kHi).distinct.map(k => (w.c, k) -> vals((k - below(i)).toInt))
      }
    }.toMap
    // per-column fallback to the sorted path when any window failed
    val fallback: Map[String, Seq[Double]] = live
      .filter(c => pending.zipWithIndex.exists { case (w, i) => w.c == c && !ok(i) })
      .map(c => c -> exactPercentiles(df, c, ps, knownN = Some(ns(c))))
      .toMap
    cols.map { c =>
      val n = ns.getOrElse(c, 0L)
      c -> (if (n == 0L) ps.map(_ => Double.NaN)
            else direct.getOrElse(c, fallback.getOrElse(c, ps.map { p =>
              val r = p * (n - 1)
              val vlo = winAt((c, r.toLong))
              val vhi = winAt((c, math.ceil(r).toLong))
              vlo + (vhi - vlo) * (r - r.toLong)
            })))
    }.toMap
  }

  /** A12: deterministic `df.summary()` — one row per column with
    * count / mean / std / min / p25 / p50 / p75 / max (reference:
    * database_10min/database.py:140-162 `.summary()`). Unlike Spark's
    * built-in summary (approximate percentiles, string output), this is
    * exact and cross-engine reproducible. The mean/std moments accumulate
    * through the INTEGER/FRACTION LONG-SPLIT kernel: each term splits
    * into floor(x) plus its 8-dp floor-quantized fraction, both summed as
    * LONGS (order-independent, primitive codegen speed — the
    * decimal(27,10)/decimal(32,14) accumulators this replaces are
    * BigDecimal-backed past 18 digits and measured 5.6× slower over
    * 600k×3 at sf0.1: 2.48 s vs 0.44 s), reconstructed as
    * intSum + fracSum/1e8 on emit — int64→double is correctly rounded on
    * every engine, so the mirror pins the identical value with the
    * CAST(CAST(SUM(...) AS BIGINT) AS DOUBLE) pattern. FLOOR (never
    * round) dodges the cross-engine round-half trap; the quantization IS
    * the contract, identical in both engines. NaN/±Inf terms are NULLed —
    * the finite() guard both paths share, applied to the SQUARE as well
    * (a finite 1e200 squares to +Inf) — a finite term at or past 2^62
    * fails LOUD via an in-plan assert (Spark's floor raw-converts past
    * 2^63, silently clamping), and an overflowing aggregate fails LOUD
    * under ANSI.
    *
    * Headroom (the cast-audit rule): the fraction and x²-fraction sums
    * carry < 1e8 per row, so long capacity 2^63 holds to ~9e10 rows; the
    * x² integer sum carries |x|² per row — for 1e5-magnitude money
    * columns that is 1e10/row, capacity ~9e8 rows (lineitem sf≈150).
    * Past that the sum overflows loudly; profile-scale summaries of
    * bigger corpora belong on [[graft.operators.Sketch.histQuantiles]]-
    * style sketches, not a wider accumulator.
    *
    * The moments stay ONE codegen'd aggregation pass for all columns
    * (deliberately NOT fused onto the percentile pass — collect_list
    * forces that one into interpreted ObjectHashAggregate, and dragging
    * the sums in with it measured 0.84 s → 2.3 s), then exact percentiles
    * via the [[exactPercentilesMulti]] counting selection: a filtered
    * sample pass and a fused verify+collect pass, no global sort, never a
    * whole-column aggregation buffer.
    */
  def summaryStats(df: DataFrame, cols: Seq[String],
                   fast: Boolean = false): DataFrame = {
    // fast=true is the profiling path: the mean/std moments accumulate in
    // plain DOUBLE (no split, no quantization). Percentiles stay the
    // SAME exact counting selection on both paths — a GK
    // percentile_approx sketch was measured SLOWER than the exact
    // selection at every local scale (interpreted ObjectHashAggregate per
    // row), so "approximate quantiles" would have traded correctness for
    // negative speed. The only fast-path concession: double summation is
    // merge-order dependent, so mean/std can wobble in the last bits
    // between runs — don't diff two fast sweeps bit-for-bit; the default
    // exact long-split path is the oracle-gated, run-deterministic
    // semantics. NaN/±Inf terms are NULLed on BOTH paths by the shared
    // finite() guard — without it one NaN row would poison the whole
    // mean/std (or ANSI-error the long cast) instead of being skipped.
    def finite(x: Column): Column =
      when(!isnan(x) && abs(x) <= lit(Double.MaxValue), x)
    // integer + 8-dp-floor-quantized fraction, both LONG (floor() on a
    // double column already returns LongType; the fraction re-subtracts
    // the long cast back to double exactly — |floor(x)| < 2^53 here).
    // Spark's floor(double) does a RAW Double→Long conversion, which
    // silently clamps at Long.MaxValue past 2^63 — the assert makes a
    // finite-but-too-big term LOUD instead (null terms pass through;
    // assert_true(NULL) would throw).
    def intPart(x: Column): Column =
      when(assert_true(x.isNull || abs(x) < lit(4.6e18),
        lit("summaryStats: |term| >= 2^62 — beyond the long-split " +
          "kernel's per-term range")).isNull, floor(x))
    def fracPart(x: Column): Column =
      floor((x - floor(x).cast("double")) * lit(1.0e8))
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      val g = finite(v)
      // the SQUARE gets its own finite() guard: a finite 1e200 passes the
      // value guard but squares to +Inf, which would poison the fast sum
      // and raw-convert to garbage in the long kernel — an Inf square is
      // NULLed (skipped) exactly like an Inf value
      val g2 = finite(g * g)
      val base = Seq(
        count(v).as(s"${c}__n"),
        min(v).as(s"${c}__min"),
        max(v).as(s"${c}__max"))
      val moments =
        if (fast) Seq(sum(g).as(s"${c}__sum"), sum(g2).as(s"${c}__sum2"))
        else Seq(
          sum(intPart(g)).as(s"${c}__si"),
          sum(fracPart(g)).as(s"${c}__sf"),
          sum(intPart(g2)).as(s"${c}__s2i"),
          sum(fracPart(g2)).as(s"${c}__s2f"))
      base ++ moments
    }
    val m = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def longSum(name: String): Double = m.getAs[Long](name).toDouble
    def sumOf(c: String): Double =
      if (fast) m.getAs[Double](s"${c}__sum")
      else longSum(s"${c}__si") + longSum(s"${c}__sf") / 1.0e8
    def sum2Of(c: String): Double =
      if (fast) m.getAs[Double](s"${c}__sum2")
      else longSum(s"${c}__s2i") + longSum(s"${c}__s2f") / 1.0e8
    // identical to Spark SQL round(): BigDecimal HALF_UP at scale 6
    def r6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pcts: Map[String, Seq[Double]] =
      exactPercentilesMulti(df, cols, Seq(0.25, 0.5, 0.75),
        cols.map(c => c -> m.getAs[Long](s"${c}__n")).toMap)
    val rows = cols.map { c =>
      val n = m.getAs[Long](s"${c}__n")
      if (n == 0) {
        // all-null column: min/max/sum aggregates are NULL (getAs would unbox
        // to a misleading 0.0) and mean/std would be 0/0 — report NaN instead
        org.apache.spark.sql.Row(c, n, Double.NaN, Double.NaN, Double.NaN,
          Double.NaN, Double.NaN, Double.NaN, Double.NaN)
      } else if (m.isNullAt(m.fieldIndex(
          if (fast) s"${c}__sum" else s"${c}__si"))) {
        // n > 0 but the sum is NULL: every row is NaN/±Inf (the decimal
        // cast and the fast-path finite() both NULL those terms), so
        // getAs[Double] would unbox to a silently-wrong mean 0.0 — report
        // NaN mean/std, consistent with the NaN min/max the row carries
        val Seq(p25, p50, p75) = pcts(c)
        org.apache.spark.sql.Row(c, n, Double.NaN, Double.NaN,
          r6(m.getAs[Double](s"${c}__min")), r6(p25), r6(p50), r6(p75),
          r6(m.getAs[Double](s"${c}__max")))
      } else {
        val s1 = sumOf(c)
        val s2 = sum2Of(c)
        val Seq(p25, p50, p75) = pcts(c)
        org.apache.spark.sql.Row(c, n,
          r6(s1 / n),
          if (n == 1) Double.NaN
          else r6(math.sqrt(math.max(0.0, (s2 - s1 * s1 / n) / (n - 1)))),
          r6(m.getAs[Double](s"${c}__min")), r6(p25), r6(p50), r6(p75),
          r6(m.getAs[Double](s"${c}__max")))
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("n", LongType, nullable = false)) ++
      Seq("mean", "std", "min", "p25", "p50", "p75", "max")
        .map(StructField(_, DoubleType, nullable = false)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), schema)
  }

  /** Adaptive equi-width histogram of a numeric column: exact min/max fix
    * the bounds (one cheap agg pass), then every row maps to
    * floor((v − lo)/width) clamped into [0, nbins−1] and the bucket
    * counts roll up in one keyed agg — the classic two-pass profiling
    * histogram, nbins output rows at any input size. A constant column
    * (width 0) lands entirely in bucket 0. NaN rows are EXCLUDED like
    * NULLs: one NaN would otherwise make max() (NaN-greatest in Spark)
    * return NaN, the width NaN, and silently collapse every row into a
    * single NaN-bounded bucket.
    */
  def histogram(df: DataFrame, valueCol: String, nbins: Int): DataFrame = {
    require(nbins > 0, s"histogram needs positive nbins; got $nbins")
    val v = col(valueCol).cast("double")
    val clean = df.filter(v.isNotNull && !isnan(v))
    val bounds = clean.agg(min(v).as("lo"), max(v).as("hi"))
    val width = (col("hi") - col("lo")) / nbins.toDouble
    val bucket = when(col("__w") > 0.0,
        least(greatest(floor((v - col("lo")) / col("__w")), lit(0.0)),
          lit((nbins - 1).toDouble)))
      .otherwise(lit(0.0)).cast("int")
    clean
      .crossJoin(broadcast(bounds.select(col("lo"), width.as("__w"))))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("__lo"), min(col("__w")).as("__wv"))
      .select(col("bucket"),
        round(col("__lo") + col("bucket") * col("__wv"), 6).as("bucket_lo"),
        col("n"))
  }

  /** Per-group exact median by rank selection: one partitioned window sort,
    * keep the middle one (odd n) or two (even n) ranks, average them —
    * quantile_cont(0.5) semantics without engine-specific interpolation
    * (both engines compute AVG of the same one or two doubles). Tie order
    * among equal values is irrelevant: interchangeable ranks hold
    * identical values. Groups sort independently, so the window
    * parallelizes across groups; a single group's values must fit one
    * partition's sort — same contract as every partitioned window here.
    */
  private def groupMedian(df: DataFrame, groupCols: Seq[String], valCol: String,
                          out: String): DataFrame = {
    val gc = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gc: _*).orderBy(col(valCol))
    val nw = org.apache.spark.sql.expressions.Window.partitionBy(gc: _*)
    df.select(gc :+ col(valCol).cast("double").as(valCol): _*)
      .filter(col(valCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(nw))
      // floor, not `/`: Spark (and DuckDB) divide integers to DOUBLE, so
      // (n+1)/2 at even n is x.5 and would match no rank at all
      .filter(col("__rn") === floor((col("__n") + lit(1)) / lit(2)) ||
              col("__rn") === floor(col("__n") / lit(2)) + lit(1))
      .groupBy(gc: _*).agg(avg(col(valCol)).as(out))
  }

  /** Robust outlier detection via the modified z-score (Iglewicz & Hoaglin
    * 1993): z = 0.6745·(x − median) / MAD, flagging |z| > `zThresh`
    * (their recommended 3.5). Median/MAD instead of mean/stddev so the
    * outliers being hunted cannot mask themselves by inflating the scale —
    * the robust complement to the rolling mean/σ z-score operator.
    *
    * Exact and engine-portable: two [[groupMedian]] passes (value, then
    * absolute deviation), one join back, one IEEE multiply-divide rounded
    * to 6 dp. A zero-MAD group (>50% identical values) has no defined
    * scale — its rows flag only when x ≠ median, reported with NULL z.
    *
    * Output: one row per group — n, median, MAD, outlier count, max |z| —
    * the monitoring-dashboard shape; the flagged row set is the same
    * relation pre-aggregation.
    */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String,
                  zThresh: Double = 3.5): DataFrame =
    madOutliers(df, Seq(groupCol), valCol, zThresh)

  /** Multi-key grouping variant of [[madOutliers]] — e.g. a seasonal
    * (series, hour-of-day) baseline, where the robust scale must be
    * estimated per seasonal bucket, not per series. (Default zThresh
    * lives on the single-key overload — Scala allows defaults on one.)
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valCol: String,
                  zThresh: Double): DataFrame = {
    val gc = groupCols.map(col)
    val base = df.select(gc :+ col(valCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val med = groupMedian(base, groupCols, "__v", "med")
    val dev = base.join(med, groupCols)
      .withColumn("__d", abs(col("__v") - col("med")))
    val mad = groupMedian(dev.select(gc :+ col("__d"): _*),
      groupCols, "__d", "mad")
    dev.join(mad, groupCols)
      .withColumn("__z",
        when(col("mad") > 0,
          round(lit(0.6745) * (col("__v") - col("med")) / col("mad"), 6)))
      .withColumn("__flag",
        when(col("mad") > 0, abs(col("__z")) > zThresh)
          .otherwise(col("__v") =!= col("med")))
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 6).as("med"),
        round(first(col("mad")), 6).as("mad"),
        sum(when(col("__flag"), 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs(col("__z"))), 6).as("max_abs_z"))
  }
}
