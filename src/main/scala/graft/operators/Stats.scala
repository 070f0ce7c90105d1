package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsum, dsum6, dsumOver}

/** Statistical modelling operators over relational inputs: per-group OLS
  * trend fitting, 2-D skyline (Pareto frontier), and first-order Markov
  * transition estimation. Each is one or two map-side-combinable
  * aggregations — the model state per group is a handful of sufficient
  * statistics, never the group's rows.
  */
object Stats {

  /** Per-group simple linear regression (OLS) of `yCol` on `xCol`:
    * slope, intercept, and R² from the five sufficient statistics
    * (Σx, Σy, Σx², Σxy, Σy², n), accumulated exactly in DECIMAL(27,10)
    * so the result is independent of partitioning and merge order —
    * the same guarantee the dsum/dsum6 output columns give everywhere
    * else in this repo. The closed-form arithmetic then runs on the
    * already-exact per-group scalars in a fixed double expression.
    *
    * Scale shape: ONE map-side-combinable groupBy — the per-partition
    * state is six numbers per group, so a 100 TB fact table reduces to
    * |groups| rows in a single exchange. No window, no second pass.
    *
    * Degenerate groups (zero x-variance) return NULL slope/intercept/R²;
    * zero y-variance with positive x-variance returns slope 0 and NULL R²
    * (the regression is exact but R² is 0/0).
    */
  def groupedOls(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val s = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * x).as("sxx"),
        dsum(x * y).as("sxy"), dsum(y * y).as("syy"),
        min(x).as("mnx"), max(x).as("mxx"),
        min(y).as("mny"), max(y).as("mxy"))
    val n = col("n").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    // the degenerate-group test is min < max, NOT varx > 0: the variance
    // is a double DIFFERENCE of products of the (exact) sums, so a
    // constant non-dyadic column (x ≡ 0.1) leaves a tiny positive rounding
    // residue that would pass `varx > 0` and emit slope = cov/noise
    // instead of the documented NULL
    val xVaries = col("mxx") > col("mnx")
    val yVaries = col("mxy") > col("mny")
    s.select(col(groupCol), col("n"),
        when(xVaries, round(cov / varx, 6)).as("slope"),
        when(xVaries,
          round((col("sy") - (cov / varx) * col("sx")) / n, 6)).as("intercept"),
        when(xVaries && yVaries,
          round((cov * cov) / (varx * vary), 6)).as("r2"))
  }

  /** 2-D skyline (Pareto frontier): the rows not dominated under
    * (minimize `costCol`, maximize `gainCol`). Row q dominates p iff
    * q.cost ≤ p.cost ∧ q.gain ≥ p.gain with at least one strict; ties on
    * BOTH axes survive together (neither dominates).
    *
    * Not the quadratic dominance anti-join: the frontier test reduces to
    * per-cost contraction + a running max over the distinct-cost relation —
    *   survive(p) ⇔ p.gain = max gain at p.cost
    *              ∧ p.gain > max gain over all strictly smaller costs.
    * The groupBy is map-side combinable, so 100 TB of candidates contract
    * to |distinct costs| rows before the one ordered scan; that scan is a
    * single-partition window BY DESIGN — it runs on the contracted
    * relation, never the input (same contract as every top-k ranking
    * here). Join back is broadcast-sized for the same reason.
    *
    * PRECONDITION — |distinct costs| must actually be small: a
    * near-unique continuous cost column contracts to ~|input| rows and
    * would exhaust both the single-partition scan and the driver-side
    * broadcast. The contraction is counted (it is materialized for the
    * window anyway) and a loud failure beats a silent driver OOM;
    * callers with continuous costs should bucket/round the cost column
    * first, which is also the statistically honest frontier at scale.
    */
  def skyline2d(df: DataFrame, keyCol: String, costCol: String,
                gainCol: String, maxDistinctCosts: Long = 4000000L): DataFrame = {
    val perCost = df.groupBy(col(costCol))
      .agg(max(col(gainCol)).as("__maxg"))
      .localCheckpoint() // counted below + window + join-back: read 3×
    val nCosts = perCost.count()
    require(nCosts <= maxDistinctCosts,
      s"skyline2d: $nCosts distinct costs exceed the $maxDistinctCosts bound " +
        "for the contracted single-partition frontier scan + broadcast " +
        "join-back; bucket or round the cost column first")
    val w = Window.orderBy(col(costCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perCost.withColumn("__prevmax", max(col("__maxg")).over(w))
    df.join(broadcast(ranked), Seq(costCol))
      .filter(col(gainCol) === col("__maxg") &&
        (col("__prevmax").isNull || col("__maxg") > col("__prevmax")))
      .select(col(keyCol), col(costCol), col(gainCol))
  }

  /** Per-group winsorization audit: clamp `valCol` to the group's exact
    * interpolated [pLo, pHi] percentiles (quantile_cont semantics — rank
    * r = p·(n−1), linear between the floor/ceil order statistics, the
    * same arithmetic as Agg.exactPercentiles) and report per group the
    * clip bounds, how many rows each tail clipped, and the decimal-exact
    * winsorized sum.
    *
    * Clipping compares against the UNROUNDED bounds — rounding first
    * would reclassify rows within 5e-7 of a bound; the bounds are rounded
    * only for display.
    *
    * Scale shape: one per-group window sort (the repo-wide per-key window
    * contract: a single group's rows fit one partition's sort), a
    * |groups|-row broadcast join back, one map-combinable final agg.
    */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorize needs 0 <= pLo < pHi <= 1; got ($pLo, $pHi)")
    val base = df.select(col(groupCol), col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val nw = Window.partitionBy(col(groupCol))
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(nw))
    def bound(p: Double, out: String) = {
      val r = lit(p) * (col("__n") - lit(1))         // 0-based target rank
      val vFloor = max(when(col("__rn") - 1 === floor(r), col("__v")))
      val vCeil = max(when(col("__rn") - 1 === ceil(r), col("__v")))
      (vFloor + (vCeil - vFloor) * (first(r) - floor(first(r)))).as(out)
    }
    val bounds = ranked.groupBy(col(groupCol))
      .agg(bound(pLo, "__lo"), bound(pHi, "__hi"))
    base.join(broadcast(bounds), Seq(groupCol))
      .withColumn("__w", least(greatest(col("__v"), col("__lo")), col("__hi")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(first(col("__lo")), 6).as("p_lo"),
        round(first(col("__hi")), 6).as("p_hi"),
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        dsum6(col("__w")).as("sum_winsorized"))
  }

  /** Pairwise Pearson correlations among numeric columns from ONE
    * map-combinable aggregation: per column Σx/Σx² and per pair Σxy in
    * decimal, then the closed form on the 1-row scalar result —
    * |cols|·(|cols|+1)/2 sums however large the table; rows with ANY
    * null among the columns are dropped (complete-case, so every pair
    * shares one n). NULL correlation when either variance is zero.
    */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrPairs needs at least two columns")
    val base = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
      .filter(cols.map(col(_).isNotNull).reduceLeft(_ && _))
    // per-column aliases are POSITIONAL (s_0, sp_3), not name-concatenated:
    // sp_${a}_$b collides for underscore-bearing names ((x, y_z) and
    // (x_y, z) both render sp_x_y_z → ambiguous reference)
    val idx = cols.zipWithIndex.toMap
    val pairList = cols.combinations(2).toSeq
    val sums =
      Seq(count(lit(1)).as("n")) ++
      cols.flatMap(c => Seq(
        dsum(col(c)).as(s"s_${idx(c)}"),
        dsum(col(c) * col(c)).as(s"ss_${idx(c)}"),
        min(col(c)).as(s"mn_${idx(c)}"), max(col(c)).as(s"mx_${idx(c)}"))) ++
      pairList.zipWithIndex.map { case (Seq(a, b), p) =>
        dsum(col(a) * col(b)).as(s"sp_$p")
      }
    val m = base.agg(sums.head, sums.tail: _*)
    val n = col("n").cast("double")
    val pairs = pairList.zipWithIndex.map { case (Seq(a, b), p) =>
      val cov = n * col(s"sp_$p") - col(s"s_${idx(a)}") * col(s"s_${idx(b)}")
      val va = n * col(s"ss_${idx(a)}") -
        col(s"s_${idx(a)}") * col(s"s_${idx(a)}")
      val vb = n * col(s"ss_${idx(b)}") -
        col(s"s_${idx(b)}") * col(s"s_${idx(b)}")
      // exact degeneracy test (min < max), not the double variance residue
      val varies = col(s"mx_${idx(a)}") > col(s"mn_${idx(a)}") &&
        col(s"mx_${idx(b)}") > col(s"mn_${idx(b)}")
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        when(varies, round(cov / sqrt(va * vb), 6)).as("corr"))
    }
    pairs.reduceLeft(_ unionAll _)
  }

  /** Kaplan-Meier survival estimator over (duration, observed) pairs:
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) across distinct event durations, with
    * right-censored subjects leaving the risk set without an event. The
    * product is computed in log space — each factor's ln is rounded at
    * 9 dp (the libm determinism treatment), decimal-cumsummed over the
    * ordered duration relation, and exponentiated once; a zero factor
    * (dᵢ = nᵢ) sends survival to exactly 0 from that step on, bypassing
    * ln(0).
    *
    * Scale shape: one groupBy contracts subjects to the |distinct
    * durations| relation; the cumulative window runs on that contraction,
    * never the subjects. Output per event step: duration, n_risk,
    * n_events, n_censored, survival.
    */
  def kaplanMeier(df: DataFrame, durCol: String,
                  observedCol: String): DataFrame = {
    val g = df.select(col(durCol).cast("long").as("dur"),
        col(observedCol).cast("boolean").as("obs"))
      .filter(col("dur").isNotNull && col("dur") >= 0 && col("obs").isNotNull)
      .groupBy(col("dur"))
      .agg(sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
        sum(when(col("obs"), 0L).otherwise(1L)).as("c"))
    val risked = g.withColumn("n_risk",
        sum(col("d") + col("c")).over(
          Window.orderBy(col("dur"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("d") > 0)
    val factor = lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = risked
      .withColumn("__lnf",
        when(factor > 0, round(log(factor), 9)).otherwise(lit(0.0)))
      .withColumn("__dead", min(when(factor > 0, 1.0).otherwise(0.0)).over(wCum))
      .withColumn("__cum",
        dsumOver(col("__lnf"), wCum))
    stepped.select(col("dur"), col("n_risk"), col("d").as("n_events"),
      col("c").as("n_censored"),
      when(col("__dead") > 0, round(exp(col("__cum")), 6))
        .otherwise(lit(0.0)).as("survival"))
  }

  /** A/B mean comparison per metric group: Welch's z-statistic for the
    * difference in mean `valCol` between the two arms of `variantCol`
    * (must be 0/1), one row per `groupCol`. Means and variances come
    * from decimal-exact sufficient statistics (the [[groupedOls]]
    * guarantee); the z arithmetic then runs on per-group scalars in a
    * fixed double expression:
    *   z = (m₁ − m₀) / √(s₀²/n₀ + s₁²/n₁),  s² the unbiased variance.
    * Arms with n < 2 or zero variance in both arms yield NULL z.
    *
    * Scale shape: ONE map-combinable groupBy over (group, variant), a
    * positional pivot to one row per group — never a self-join of the
    * fact table.
    */
  def abWelchZ(df: DataFrame, groupCol: String, variantCol: String,
               valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val s = df.filter(v.isNotNull &&
        (col(variantCol) === 0 || col(variantCol) === 1))
      .groupBy(col(groupCol), col(variantCol).cast("int").as("__arm"))
      .agg(count(lit(1)).as("n"),
        dsum(v).as("sv"), dsum(v * v).as("svv"),
        min(v).as("mn"), max(v).as("mx"))
    def armAgg(arm: Int, c: String, out: String) =
      max(when(col("__arm") === arm, col(c))).as(out)
    val p = s.groupBy(col(groupCol))
      .agg(armAgg(0, "n", "n0"), armAgg(0, "sv", "sv0"), armAgg(0, "svv", "svv0"),
        armAgg(0, "mn", "mn0"), armAgg(0, "mx", "mx0"),
        armAgg(1, "n", "n1"), armAgg(1, "sv", "sv1"), armAgg(1, "svv", "svv1"),
        armAgg(1, "mn", "mn1"), armAgg(1, "mx", "mx1"))
    def mean(i: Int) = col(s"sv$i") / col(s"n$i").cast("double")
    // unbiased variance from sums: (Σv² − (Σv)²/n) / (n−1)
    def vr(i: Int) =
      (col(s"svv$i") - col(s"sv$i") * col(s"sv$i") / col(s"n$i").cast("double")) /
        (col(s"n$i").cast("double") - lit(1.0))
    val se2 = vr(0) / col("n0").cast("double") + vr(1) / col("n1").cast("double")
    // degenerate test is exact min < max on at least one arm, not
    // `se2 > 0` on doubles: two constant arms leave a rounding residue
    // that would emit an astronomically large z instead of NULL
    val varies = col("mx0") > col("mn0") || col("mx1") > col("mn1")
    p.select(col(groupCol), col("n0"), col("n1"),
      round(mean(0), 6).as("mean0"), round(mean(1), 6).as("mean1"),
      when(col("n0") >= 2 && col("n1") >= 2 && varies,
        round((mean(1) - mean(0)) / sqrt(se2), 6)).as("welch_z"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * for consecutive events of one user in (`tsCol`, `idCol`) order, count
    * (src event type → dst event type) and normalize per src. One
    * partitioned lead window (per-user, bounded by a user's own events)
    * and one keyed count; the |types|²-row result carries its own
    * normalizing window.
    */
  def markovTransitions(events: DataFrame, userCol: String, tsCol: String,
                        idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("src"),
        lead(col(typeCol), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_trans"))
    val tw = Window.partitionBy(col("src"))
    pairs.select(col("src"), col("dst"), col("n_trans"),
      round(col("n_trans").cast("double") / sum(col("n_trans")).over(tw), 6)
        .as("prob"))
  }

  /** Per-group sample autocorrelation at lags 1..`maxLag` — the classic
    * estimator r(ℓ) = Σ(vₜ−m)(vₜ₋ℓ−m) / Σ(vₜ−m)² with the GROUP mean m,
    * computed WITHOUT a mean-first second pass: expand the numerator to
    * Σvₜvₜ₋ℓ − m·Σvₜ − m·Σvₜ₋ℓ + nℓ·m² so one partitioned lag window and
    * ONE map-side-combinable groupBy produce every lag's sufficient
    * statistics together. All sums accumulate in DECIMAL(27,10) (the
    * repo-wide dsum rule), so the result is independent of partitioning
    * and merge order, and the closed form then runs on exact per-group
    * scalars in a fixed double expression — cross-engine reproducible.
    *
    * Scale shape: the window is PARTITIONED by group (never global) and
    * the aggregation state is 3·maxLag+3 numbers per group, so a 100 TB
    * series table reduces to |groups| rows in one exchange after the
    * window sort. maxLag is a plan-width constant — keep it O(10).
    *
    * Zero-variance groups (constant series) return NULL acf; lags with
    * no pairs (series shorter than ℓ) return NULL.
    *
    * Output: (group, lag, n_pairs, acf), acf rounded to 6 dp.
    */
  def acf(df: DataFrame, groupCol: String, tsCol: String, tieCol: String,
          valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"maxLag must be in [1, 64], got $maxLag")
    val v = col(valCol).cast("double")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(tsCol), col(tieCol))
    val lagged = df.filter(v.isNotNull && !isnan(v))
      .select(col(groupCol) +: v.as("v") +:
        (1 to maxLag).map(l => lag(v, l).over(w).as(s"v$l")): _*)
    val aggs =
      Seq(count(lit(1)).as("n"),
        dsum(col("v")).as("s"), dsum(col("v") * col("v")).as("ss"),
        min(col("v")).as("__mn"), max(col("v")).as("__mx")) ++
      (1 to maxLag).flatMap { l =>
        val vl = col(s"v$l")
        Seq(count(vl).as(s"n$l"),
          dsum(when(vl.isNotNull, col("v") * vl)).as(s"sxy$l"),
          dsum(when(vl.isNotNull, col("v"))).as(s"sx$l"),
          dsum(vl).as(s"sy$l"))
      }
    val aggd = lagged.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn("__m", col("s") / col("n").cast("double"))
      .withColumn("__den",
        col("ss") - col("n").cast("double") * col("__m") * col("__m"))
    val withR = (1 to maxLag).foldLeft(aggd) { (d, l) =>
      val num = col(s"sxy$l") - col("__m") * col(s"sx$l") -
        col("__m") * col(s"sy$l") +
        col(s"n$l").cast("double") * col("__m") * col("__m")
      // exact zero-variance test (min < max) — the double residue of
      // ss − n·m² on a constant non-dyadic series would pass `den > 0`
      d.withColumn(s"__r$l",
        when(col("__mx") > col("__mn") && col(s"n$l") > 0,
          round(num / col("__den"), 6)))
    }
    val stackArgs = (1 to maxLag).map(l => s"$l, n$l, __r$l").mkString(", ")
    withR
      .select(col(groupCol),
        expr(s"stack($maxLag, $stackArgs) AS (lag, n_pairs, acf)"))
      .select(col(groupCol), col("lag").cast("int").as("lag"),
        col("n_pairs"), col("acf"))
  }

  /** Per-group Theil–Sen slope estimator: the MEDIAN of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i) — the classic high-breakdown robust
    * alternative to [[groupedOls]] (tolerates ~29% outliers). Vertical
    * pairs (equal x) are excluded, per the standard definition. Returns
    * per group: n (points), n_pairs (finite-slope pairs), slope
    * (interpolated median, emitted UNROUNDED — see the in-body note).
    *
    * Scale shape: the pair join is per-GROUP (the fan-out is bounded by
    * the per-key row count, the repo-wide per-key window contract — a
    * group's O(n²) pairs are the estimator's inherent cost); the median
    * comes from one partitioned rank window + a boundary-row filter, so
    * only ≤2 rows per group survive to the final agg — never a global
    * sort.
    *
    * Determinism: slopes are one IEEE divide on identical operands; the
    * k-th order statistic is tie-order-independent (equal slopes are
    * equal values); the even-m interpolation sums exactly two doubles.
    */
  def theilSen(df: DataFrame, groupCol: String, xCol: String, tieCol: String,
               yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val pts = df.filter(x.isNotNull && y.isNotNull && !isnan(y))
      .select(col(groupCol).as("g"), col(tieCol).as("t"), x.as("x"), y.as("y"))
    val n = pts.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val pairs = pts.select(col("g"), col("t").as("ta"), col("x").as("xa"),
        col("y").as("ya"))
      .join(pts.select(col("g"), col("t").as("tb"), col("x").as("xb"),
        col("y").as("yb")), Seq("g"))
      .filter(col("ta") < col("tb") && col("xa") =!= col("xb"))
      .select(col("g"),
        ((col("yb") - col("ya")) / (col("xb") - col("xa"))).as("slope"))
    val w = Window.partitionBy(col("g")).orderBy(col("slope"))
    val wAll = Window.partitionBy(col("g"))
    val ranked = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll))
    val kLo = floor((col("m") + 1).cast("double") / 2.0).cast("long")
    val kHi = floor(col("m").cast("double") / 2.0).cast("long") + 1
    val med = ranked.filter(col("rn") === kLo || col("rn") === kHi)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__k"), sum(col("slope")).as("__s"),
        max(col("m")).as("n_pairs"))
      // RAW ratio, no final round: slopes are 2-dp-value diffs over
      // integer-second diffs, so the median can terminate at exactly
      // scale+1 digits — the one case engines legitimately disagree on
      // rounding. The operands are bit-identical by construction, so the
      // unrounded value is deterministic (the a9/j5 rule).
      .select(col("g"), col("n_pairs"),
        (col("__s") / col("__k").cast("double")).as("slope"))
    n.join(med, Seq("g"), "left_outer")
      .select(col("g").as(groupCol), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope"))
  }

  /** Poisson(1) CDF thresholds for the hash-bootstrap weights, computed
    * ONCE driver-side and embedded as identical literals in the Spark
    * plan and any SQL mirror — cross-engine exp() drift cannot exist for
    * a shared literal. P(X > 7) ≈ 1e-5 is folded into the top bucket.
    */
  private[graft] val poissonCdf: Array[Double] = {
    val e = math.exp(-1.0)
    (0 to 6).map { k =>
      e * (0 to k).map(i => 1.0 / (1 to i).foldLeft(1.0)(_ * _)).sum
    }.toArray
  }

  /** Deterministic Poisson bootstrap CI for the per-group mean: each of
    * `reps` replicas weights every row by a Poisson(1) draw derived from
    * a 60-bit md5 of (row id, replica) — the classic streaming bootstrap
    * (resampling n-out-of-n ≈ independent Poisson(1) weights), made
    * REPRODUCIBLE and engine-portable because the randomness is a content
    * hash, not an RNG. Returns per group: n, n_reps (replicas with
    * positive total weight), boot_mean (mean of replicate means), and the
    * [tailK-th lowest, tailK-th highest] replicate means as the CI — all
    * emitted unrounded (weighted means are decimal/integer ratios that
    * can terminate on a round boundary; the operands are bit-identical).
    *
    * Scale shape: the explode is a pipelined ×reps flatMap into ONE
    * map-combinable (group, rep) aggregation — state is reps rows per
    * group, never the replicated data; the CI ranks reps values per
    * group (bounded by construction).
    */
  def poissonBootstrapCi(df: DataFrame, groupCol: String, idCol: String,
                         valCol: String, reps: Int, tailK: Int): DataFrame = {
    require(reps >= 4 && reps <= 256, s"poissonBootstrapCi: bad reps=$reps")
    require(tailK >= 1 && tailK * 2 < reps, s"poissonBootstrapCi: bad tailK=$tailK")
    val v = col(valCol).cast("double")
    // NOTE: built against the post-rename schema (id, b) below
    val u = graft.llm.TextAnalysis.md5Long(
      concat(col("id").cast("string"), lit(":"), col("b").cast("string"))) /
      lit(1152921504606846976.0) // 2^60, exact
    // the CASE reads the STAGED __u attribute, not the md5 expression: a
    // when-chain's branches evaluate conditionally, outside codegen's
    // common-subexpression elimination, so inlining u re-computed the md5
    // in EVERY reached branch — up to 7 md5s per row in the physical plan
    // (the qualityFilter staging lesson; plan excerpt in plans/r13)
    val w = poissonCdf.zipWithIndex.foldRight(lit(7L): org.apache.spark.sql.Column) {
      case ((c, k), acc) => when(col("__u") < lit(c), lit(k.toLong)).otherwise(acc)
    }
    // fanOut before the explode: the reps-way explode + per-row md5 fuse
    // into the SCAN stage, and the events table is small enough to arrive
    // as one split — 3.2M md5 evaluations on one core at sf0.1 (measured
    // 8.3 s isolated; the whole-suite record's worst query). The exchange
    // is bounded by the pre-explode relation, and every downstream agg is
    // an order-independent decimal sum, so the spread changes nothing but
    // the parallelism (Core.fanOut's per-token-md5 contract).
    val rep = graft.Core.fanOut(df.filter(v.isNotNull && !isnan(v))
        .select(col(groupCol).as("g"), col(idCol).as("id"), v.as("x")))
      .select(col("g"), col("id"), col("x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      // stage the md5 uniform ONCE per (id, b); CollapseProject leaves a
      // non-cheap multiply-referenced producer in its own projection
      .withColumn("__u", u)
      .withColumn("w", w)
      .groupBy(col("g"), col("b"))
      // round6-in-decimal before every decimal→double cast (the dsum6
      // rule): a raw scale-10 cast double-rounds on one engine once the
      // unscaled sum passes 2^53
      .agg(sum(col("w")).as("wsum"),
        dsum6(col("w").cast("double") * col("x")).as("wx"),
        count(lit(1)).as("n"))
      .filter(col("wsum") > 0)
      .withColumn("mb", col("wx") / col("wsum").cast("double"))
    val wRank = Window.partitionBy(col("g")).orderBy(col("mb"), col("b"))
    val wAll = Window.partitionBy(col("g"))
    rep
      .withColumn("rn", row_number().over(wRank))
      .withColumn("nreps", count(lit(1)).over(wAll))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("nreps")).as("n_reps"),
        round(sum(dec(col("mb"))), 6).as("__smb"),
        max(when(col("rn") === tailK, col("mb"))).as("ci_lo"),
        max(when(col("rn") === col("nreps") - tailK + 1, col("mb"))).as("ci_hi"))
      .select(col("g").as(groupCol), col("n"), col("n_reps"),
        (col("__smb").cast("double") / col("n_reps").cast("double"))
          .as("boot_mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Split-conformal prediction intervals per group: fit OLS on the
    * CALIBRATION half (`splitCol` true), take the conformal quantile of
    * its absolute residuals (the k = ⌈(1−α)(n+1)⌉-th order statistic,
    * clamped to n), and report the held-out coverage of ŷ ± q on the
    * TEST half — the distribution-free interval with the finite-sample
    * ≥ 1−α guarantee. Groups whose calibration x does not vary fall back
    * to the mean predictor (slope 0), exactly as documented.
    *
    * All emitted statistics are unrounded raw doubles on bit-identical
    * operands (decimal sufficient sums, fixed-order closed forms).
    *
    * Scale shape: one map-combinable sufficient-stats agg over the
    * calibration half, one |groups|-row broadcast join back, one
    * per-group residual-rank window (per-key contract), one final agg.
    */
  def conformalInterval(df: DataFrame, groupCol: String, xCol: String,
                        tieCol: String, yCol: String, splitCol: String,
                        alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"conformalInterval: bad alpha=$alpha")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull && !isnan(y))
      .select(col(groupCol).as("g"), col(tieCol).as("t"), x.as("x"),
        y.as("y"), col(splitCol).as("cal"))
    // sufficient sums round to 6 dp IN DECIMAL before the double cast
    // (the dsum6 rule) — Σx² per group can push the scale-10 unscaled
    // value past 2^53, where one engine's decimal→double cast
    // double-rounds; the 6-dp definition is applied identically on both
    val fit = base.filter(col("cal"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ncal"),
        dsum6(col("x")).as("sx"), dsum6(col("y")).as("sy"),
        dsum6(col("x") * col("x")).as("sxx"),
        dsum6(col("x") * col("y")).as("sxy"),
        min(col("x")).as("mnx"), max(col("x")).as("mxx"))
    val nD = col("ncal").cast("double")
    val slope = when(col("mxx") > col("mnx"),
      (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))).otherwise(lit(0.0))
    val model = fit.select(col("g"), col("ncal"), slope.as("slope"),
      ((col("sy") - slope * col("sx")) / nD).as("icept"))
    val kRank = ceil((lit(1.0) - alpha) * (col("ncal") + 1).cast("double"))
      .cast("long")
    val resid = base.filter(col("cal"))
      .join(model, Seq("g"))
      .withColumn("r", abs(col("y") - (col("icept") + col("slope") * col("x"))))
    val wR = Window.partitionBy(col("g")).orderBy(col("r"), col("t"))
    val q = resid
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") === least(kRank, col("ncal")))
      .select(col("g"), col("r").as("q_hat"))
    val test = base.filter(!col("cal"))
      .join(model, Seq("g")).join(q, Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ntest"),
        sum(when(abs(col("y") - (col("icept") + col("slope") * col("x"))) <=
          col("q_hat"), 1L).otherwise(0L)).as("covered"))
    model.join(q, Seq("g"), "left_outer").join(test, Seq("g"), "left_outer")
      .select(col("g").as(groupCol), col("ncal"),
        coalesce(col("ntest"), lit(0L)).as("ntest"), col("q_hat"),
        (col("covered").cast("double") / col("ntest").cast("double"))
          .as("coverage"))
  }

  /** Per-group CUSUM change-point detection: over each group's series
    * ordered by (tsCol, tieCol), the cumulative sum of centered values
    * S_i = Σ_{j≤i}(x_j − x̄) peaks in magnitude at the most likely mean
    * shift. Returns per group: n, the change-point's ts/tie, the CUSUM
    * statistic at the peak, and the magnitude — the classic offline CUSUM
    * detector, exact.
    *
    * Determinism: the group mean comes from a full-partition decimal-sum
    * window; each centered term is cast back to DECIMAL(27,10) before the
    * running sum, so S_i is associative-exact and identical across
    * engines; the argmax tie-breaks by earliest (ts, tie).
    *
    * Scale shape: ONE exchange — all three windows (mean, running sum,
    * argmax rank) share the group partitioning; per-group data is sorted
    * once. The repo-wide per-key window contract applies (a single
    * group's rows fit one partition).
    */
  def cusumChangePoint(df: DataFrame, groupCol: String, tsCol: String,
                       tieCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val wAll = Window.partitionBy(col(groupCol))
    val wRun = wAll.orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the running sum STAYS decimal through the ranking and the final
    // round (the dsum6 rule): ranking on a double cast would compare
    // 1-ulp-ambiguous values, and rounding the cast double is ambiguous
    // whenever the scale-10 sum terminates near a 6-dp half boundary
    // null timestamps dropped up front (the processDfg rule): the running
    // sum and the argmax rank both order by ts, and engines disagree on
    // NULL sort placement
    val cum = df.filter(v.isNotNull && !isnan(v) && col(tsCol).isNotNull)
      .withColumn("__mean",
        dsumOver(v, wAll) /
          count(lit(1)).over(wAll).cast("double"))
      .withColumn("__s", sum(dec(v - col("__mean"))).over(wRun))
    val wRank = wAll.orderBy(abs(col("__s")).desc, col(tsCol), col(tieCol))
    cum
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col("__n").as("n"),
        col(tsCol).as("cp_ts"), col(tieCol).as("cp_id"),
        round(col("__s"), 6).cast("double").as("cusum_stat"),
        round(abs(col("__s")), 6).cast("double").as("cusum_abs"))
  }
}
