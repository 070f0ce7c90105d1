package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Core
import graft.functions.Phys
import graft.llm.Similarity
import graft.ml.{Als, BiasCorrection, HydroClass, Pca, RF, Scores}
import graft.operators.{Stats, Windows}

/** Machine-learning and verification queries: the RF model, bias
  * correction, skill scores, calibration and ranking metrics, regression
  * fits, PCA, ALS, bootstrap and conformal intervals, and the hydrometeor
  * centroid classifier.
  */
object MlQueries {

  import Ora._

  /** M2: bias-correction 'cdf' quantile mapping — zero-intercept slope on
    * independently sorted (pred, obs).
    */
  val m2BiasCdf: QueryDef = QueryDef(
    "m2_bias_cdf",
    (s, dir) => BiasCorrection.cdfSlope(
        t(s, dir, "lineitem").filter($"l_returnflag" === "A")
          .withColumn("pred", $"l_extendedprice" / 1000.0)
          .withColumn("obs", $"l_quantity"),
        "pred", "obs")
      .select(r6($"slope").as("slope")),
    Some("""WITH src AS (SELECT l_extendedprice / 1000.0 AS pred, l_quantity AS obs
               FROM lineitem WHERE l_returnflag = 'A'),
      p AS (SELECT pred, ROW_NUMBER() OVER (ORDER BY pred) AS rn FROM src),
      o AS (SELECT obs, ROW_NUMBER() OVER (ORDER BY obs) AS rn FROM src)
      SELECT ROUND(
        CAST(SUM(CAST((p.pred * o.obs) AS DECIMAL(30,8))) AS DOUBLE) /
        CAST(SUM(CAST((p.pred * p.pred) AS DECIMAL(30,8))) AS DOUBLE), 6) AS slope
      FROM p JOIN o ON p.rn = o.rn"""))

  /** M5: CV fold assignment from sessionized events. */
  val m5Folds: QueryDef = QueryDef(
    "m5_fold_assign",
    (s, dir) => Windows.sessionize(t(s, dir, "events"), "user_id", "ts", 1800L)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n"))
      .groupBy(($"session_id" % 5).as("fold"))
      .agg(count(lit(1)).as("n_sessions"), sum($"n").as("n_events"))
      .orderBy($"fold"),
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
            FROM s),
      sess AS (SELECT user_id, session_id, COUNT(*) AS n FROM t GROUP BY 1, 2)
      SELECT session_id % 5 AS fold, COUNT(*) AS n_sessions,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM sess GROUP BY 1 ORDER BY 1"""))

  /** M6: perfscores — N, logBias, conditional RMSE, weighted-quantile
    * scatter per group.
    */
  val m6Perfscores: QueryDef = QueryDef(
    "m6_perfscores",
    (s, dir) => Scores.perfscores(
        t(s, dir, "lineitem")
          .select($"l_returnflag".as("g"),
                  ($"l_extendedprice" / 10000.0).as("est"),
                  ($"l_quantity" / 10.0).as("ref")),
        "g", "est", "ref")
      .orderBy($"g"),
    Some(s"""WITH v AS (SELECT l_returnflag AS g, l_extendedprice / 10000.0 AS est,
               l_quantity / 10.0 AS ref FROM lineitem),
      base AS (SELECT g, COUNT(*) AS n,
        ROUND(LOG10(${dsumSql("est")} / ${dsumSql("ref")}) * 10.0, 6) AS logbias_db,
        ROUND(SQRT(${dsumSql("CASE WHEN est > 0.1 AND ref > 0.1 THEN (est - ref) * (est - ref) END")} /
          COUNT(CASE WHEN est > 0.1 AND ref > 0.1 THEN 1 END)), 6) AS rmse_cond
        FROM v GROUP BY g),
      cond AS (SELECT g, LOG10(est / ref) * 10.0 AS ratio_db, ref AS w
               FROM v WHERE est > 0.1 AND ref > 0.1),
      cum AS (SELECT g, ratio_db,
        CAST(SUM(CAST(w AS DECIMAL(27,10))) OVER (PARTITION BY g ORDER BY ratio_db
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumw,
        CAST(SUM(CAST(w AS DECIMAL(27,10))) OVER (PARTITION BY g) AS DOUBLE) AS totw
        FROM cond),
      q AS (SELECT g,
        MIN(CASE WHEN cumw >= totw * 0.16 THEN ratio_db END) AS q16,
        MIN(CASE WHEN cumw >= totw * 0.84 THEN ratio_db END) AS q84
        FROM cum GROUP BY g)
      SELECT base.g, base.n, base.logbias_db, base.rmse_cond,
             ROUND((q.q84 - q.q16) / 2.0, 6) AS scatter_db
      FROM base LEFT JOIN q ON base.g = q.g ORDER BY base.g"""))

  /** M7: contingency table + POD/FAR/CSI at threshold events. */
  val m7Contingency: QueryDef = QueryDef(
    "m7_contingency",
    (s, dir) => Scores.contingency(
        t(s, dir, "lineitem"),
        "l_returnflag",
        $"l_quantity" > 25.0,
        $"l_extendedprice" > 40000.0)
      .orderBy($"l_returnflag"),
    Some("""SELECT l_returnflag,
      COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END) AS hits,
      COUNT(CASE WHEN l_quantity > 25.0 AND NOT l_extendedprice > 40000.0 THEN 1 END) AS misses,
      COUNT(CASE WHEN NOT l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END) AS false_alarms,
      COUNT(CASE WHEN NOT l_quantity > 25.0 AND NOT l_extendedprice > 40000.0 THEN 1 END) AS correct_negatives,
      ROUND(COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
        / (COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
           + COUNT(CASE WHEN l_quantity > 25.0 AND NOT l_extendedprice > 40000.0 THEN 1 END)), 6) AS pod,
      ROUND(COUNT(CASE WHEN NOT l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
        / (COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
           + COUNT(CASE WHEN NOT l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)), 6) AS far,
      ROUND(COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
        / (COUNT(CASE WHEN l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)
           + COUNT(CASE WHEN l_quantity > 25.0 AND NOT l_extendedprice > 40000.0 THEN 1 END)
           + COUNT(CASE WHEN NOT l_quantity > 25.0 AND l_extendedprice > 40000.0 THEN 1 END)), 6) AS csi
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** M1/M4: MLlib RandomForest + cdf bias correction, trained and applied on
    * the fact table. Model output depends on MLlib's internal sampling, so
    * the query has a rows-only check (no SQL oracle) — behavioral
    * assertions live in the spec suite.
    */
  val m1Rf: QueryDef = QueryDef(
    "m1_rf_train_predict",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity").as("f1"),
                col("l_discount").as("f2"), col("l_tax").as("f3"),
                (col("l_extendedprice") / 1000.0).as("label"))
      // deterministic 10% training sample; prediction runs on the full table
      val train = li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
      val model = RF.fit(train, Seq("f1", "f2", "f3"), "label",
        numTrees = 5, maxDepth = 8)
      RF.predict(model, li)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("prediction_bc")), 2).as("mean_pred"),
             count(when(col("prediction_bc") < 0, lit(1))).as("n_negative"))
        .orderBy(col("l_returnflag"))
    },
    None)

  /** M11: the reference's prepare_input feature pipeline composed END TO END
    * from library operators — dedupKeepFirst → naReplace → threeWaySemi →
    * fullPeriodFilter → dB→linear → weightedMean + weightedProportions —
    * previously proven only on fixtures (PrepareInputSpec). Every stage is
    * individually oracle-gated elsewhere; this gates the COMPOSITION (the
    * part the reference does in pandas and we keep as one Spark plan).
    * Deterministic sentinel injection (event_id % 11) exercises the
    * null-feature discipline: a null zh contributes neither value nor
    * weight to the vertical aggregation.
    */
  val m11Prepare: QueryDef = QueryDef(
    "m11_prepare_input",
    (s, dir) => {
      import graft.operators.{Agg, Relational}
      val radar = t(s, dir, "events").selectExpr(
        "event_id",
        "CAST(user_id % 50 AS INT) AS station",
        "ts",
        "CAST(event_id % 2 AS INT) AS sweep",
        "CASE WHEN event_id % 11 = 0 THEN -9999.0 ELSE value / 10.0 END AS zh",
        "500.0 * (1 + event_id % 2) AS height",
        "CAST(40 + user_id % 60 AS DOUBLE) AS visib")
        .withColumn("hts", Phys.floorToCadence(epochS($"ts"), 3600L))
      val dedup = Relational.dedupKeepFirst(radar,
        Seq("station", "hts", "sweep"), "event_id")
      val clean = Relational.naReplace(dedup, -9999.0, Seq("zh"))
      val keys = Seq("station", "hts")
      val gauge = radar.filter($"event_id" % 3 === 0).select(keys.map(col): _*)
      val ref = radar.filter($"event_id" % 4 === 0).select(keys.map(col): _*)
      val joined = Relational.threeWaySemi(clean, gauge, ref, keys)
      val full = Relational.fullPeriodFilter(joined, "station", "ts", 2L)
      val feat = full
        .withColumn("zh_lin", Phys.dbToLin($"zh"))
        .withColumn("w", $"visib" / 100.0 * pow(lit(10.0), -$"height" / 2000.0))
        .withColumn("sweepc", $"sweep".cast("string"))
      Agg.weightedMean(feat, keys, $"w", Seq("zh_lin"))
        .join(Agg.weightedProportions(feat, keys, $"w", "sweepc", Seq("0", "1"))
                .withColumnRenamed("sweepc_prop_0", "prop_lo")
                .withColumnRenamed("sweepc_prop_1", "prop_hi"),
              keys)
        .select($"station", $"hts", r6($"zh_lin").as("zh_lin"),
                r6($"prop_lo").as("prop_lo"), r6($"prop_hi").as("prop_hi"))
        .orderBy($"station", $"hts")
    },
    Some(s"""WITH radar AS (
        SELECT event_id, CAST(user_id % 50 AS INT) AS station,
               (${epochSql("ts")} - ${epochSql("ts")} % 3600) AS hts,
               ${epochSql("ts")} AS ets,
               CAST(event_id % 2 AS INT) AS sweep,
               CASE WHEN event_id % 11 = 0 THEN -9999.0 ELSE value / 10.0 END AS zh,
               500.0 * (1 + event_id % 2) AS height,
               CAST(40 + user_id % 60 AS DOUBLE) AS visib
        FROM events),
      dedup AS (
        SELECT * FROM (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY station, hts, sweep ORDER BY event_id) AS rn FROM radar)
        WHERE rn = 1),
      clean AS (SELECT station, hts, ets, sweep,
               CASE WHEN zh = -9999.0 THEN NULL ELSE zh END AS zh, height, visib
        FROM dedup),
      gauge AS (SELECT DISTINCT station, hts FROM radar WHERE event_id % 3 = 0),
      ref AS (SELECT DISTINCT station, hts FROM radar WHERE event_id % 4 = 0),
      joined AS (
        SELECT c.* FROM clean c
        SEMI JOIN gauge g USING (station, hts)
        SEMI JOIN ref r USING (station, hts)),
      fullh AS (
        SELECT * FROM (SELECT *, COUNT(*) OVER
            (PARTITION BY station, ets - ets % 3600) AS pc FROM joined)
        WHERE pc = 2),
      feat AS (
        SELECT station, hts, sweep, POW(10.0, zh * 0.1) AS zh_lin,
               visib / 100.0 * POW(10.0, -height / 2000.0) AS w
        FROM fullh)
      SELECT station, hts,
        ROUND(CAST(SUM(CAST(CASE WHEN zh_lin IS NOT NULL AND NOT isnan(zh_lin) THEN zh_lin * w END
                  AS DECIMAL(32,14))) AS DOUBLE)
              / CAST(SUM(CAST(CASE WHEN zh_lin IS NOT NULL AND NOT isnan(zh_lin) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 6) AS zh_lin,
        ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 0 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)
              / (COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 0 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)
                 + COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 1 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)), 6) AS prop_lo,
        ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 1 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)
              / (COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 0 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)
                 + COALESCE(CAST(SUM(CAST(CASE WHEN sweep = 1 AND NOT isnan(w) THEN w END
                  AS DECIMAL(32,14))) AS DOUBLE), 0.0)), 6) AS prop_hi
      FROM feat GROUP BY station, hts ORDER BY station, hts"""))

  /** M9: the model-intercomparison rollup (K-fold CV of an RF config vs a
    * reference-product column, solid/liquid split at 2 °C, 10/60-min agg) —
    * model output, rows-only check; the score math itself is oracled via
    * m6_perfscores / m6_energy_distance and spec'd in IntercomparisonSpec.
    */
  val m9Intercomparison: QueryDef = QueryDef(
    "m9_intercomparison",
    (s, dir) => {
      import graft.ml.Intercomparison
      // demonstration scale: the orchestration shape is what M9 is about —
      // a 5% sample keeps the K RF fits out of the bench's critical path
      // (the full-data path is the same code with the filter dropped)
      val li = Core.table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .withColumn("ref", col("l_quantity") / 10.0)
        .withColumn("rzc_proxy", col("l_extendedprice") / 10000.0)
        .withColumn("temp", col("l_discount") * 100.0 - 5.0)
        .withColumn("fold", (col("l_partkey") % 2).cast("int")) // independent of the sampling key
        .withColumn("hour", (col("l_partkey") % 50).cast("int"))
        .withColumn("f1", col("l_extendedprice") / 9500.0)
        .withColumn("f2", col("l_tax") * 100.0)
      Intercomparison.run(li,
        configs = Seq(Intercomparison.ModelConfig("RF_small", Seq("f1", "f2"),
          numTrees = 3, maxDepth = 5)),
        refProducts = Map("RZC_proxy" -> "rzc_proxy"),
        labelCol = "ref", tempCol = "temp", foldCol = "fold", k = 2,
        hourCol = Some("hour"))
    },
    None)

  /** §2.10 in the correctness gate: the custom WeightedQuantile Aggregator
    * computing the scatter quantiles (q16/q84 of the dB error, weighted by
    * the reference value) — oracled against the cumulative-crossing SQL,
    * which implements the same crossing rule.
    */
  val m6WqAgg: QueryDef = QueryDef(
    "m6_weighted_quantile_agg",
    (s, dir) => {
      import graft.functions.Aggregators.WeightedQuantile
      val wq16 = udaf(new WeightedQuantile(0.16))
      val wq84 = udaf(new WeightedQuantile(0.84))
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
                (log10((col("l_extendedprice") / 10000.0) / (col("l_quantity") / 10.0)) * 10.0)
                  .as("ratio_db"),
                (col("l_quantity") / 10.0).as("w"))
        .filter(col("l_extendedprice") / 10000.0 > 0.1 && col("l_quantity") / 10.0 > 0.1)
        .groupBy(col("g"))
        .agg(round(wq16(col("ratio_db"), col("w")), 6).as("q16"),
             round(wq84(col("ratio_db"), col("w")), 6).as("q84"))
        .orderBy(col("g"))
    },
    Some("""WITH cond AS (
        SELECT l_returnflag AS g,
               LOG10((l_extendedprice / 10000.0) / (l_quantity / 10.0)) * 10.0 AS ratio_db,
               l_quantity / 10.0 AS w
        FROM lineitem
        WHERE l_extendedprice / 10000.0 > 0.1 AND l_quantity / 10.0 > 0.1),
      cum AS (SELECT g, ratio_db,
        SUM(w) OVER (PARTITION BY g ORDER BY ratio_db ROWS UNBOUNDED PRECEDING) AS cumw,
        SUM(w) OVER (PARTITION BY g) AS totw
        FROM cond)
      SELECT g,
        ROUND(MIN(CASE WHEN cumw >= totw * 0.16 THEN ratio_db END), 6) AS q16,
        ROUND(MIN(CASE WHEN cumw >= totw * 0.84 THEN ratio_db END), 6) AS q84
      FROM cum GROUP BY g ORDER BY g"""))

  /** M6: energy distance between the est and ref distributions per group,
    * through the custom [[graft.functions.Aggregators.EnergyDistance]]
    * Aggregator (O(n log n) prefix-sum identity; reference reports ED in
    * every score table, common/utils.py:148). The oracle computes the same
    * statistic exactly with the sorted-merge GAP identity in SQL:
    * Σ|x−y| = Σ_gaps gap·(straddling pair count).
    */
  val m6EnergyDist: QueryDef = QueryDef(
    "m6_energy_distance",
    (s, dir) => {
      import graft.functions.Aggregators.EnergyDistance
      val ed = udaf(new EnergyDistance())
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
                (col("l_extendedprice") / 10000.0).as("est"),
                (col("l_quantity") / 10.0).as("ref"))
        .groupBy(col("g"))
        .agg(round(ed(col("est"), col("ref")), 6).as("energy_dist"))
        .orderBy(col("g"))
    },
    Some("""WITH v AS (SELECT l_returnflag AS g, l_extendedprice / 10000.0 AS est,
               l_quantity / 10.0 AS ref FROM lineitem),
      m AS (SELECT g, est AS val, 1 AS isx FROM v
            UNION ALL SELECT g, ref, 0 FROM v),
      tot AS (SELECT g, COUNT(*) // 2 AS n FROM m GROUP BY g),
      ord AS (SELECT g, val,
          SUM(isx) OVER w AS cx,
          SUM(1 - isx) OVER w AS cy,
          LEAD(val) OVER (PARTITION BY g ORDER BY val, isx) AS nxt
        FROM m WINDOW w AS (PARTITION BY g ORDER BY val, isx ROWS UNBOUNDED PRECEDING)),
      s AS (SELECT o.g, ANY_VALUE(t.n) AS n,
          SUM((nxt - val) * (cx * (t.n - cy) + cy * (t.n - cx))) AS sxy,
          SUM((nxt - val) * 2 * cx * (t.n - cx)) AS sxx,
          SUM((nxt - val) * 2 * cy * (t.n - cy)) AS syy
        FROM ord o JOIN tot t ON o.g = t.g
        WHERE nxt IS NOT NULL
        GROUP BY o.g)
      SELECT g, ROUND(SQRT(GREATEST(
          2.0 * sxy / (n*n) - sxx / (n*n) - syy / (n*n), 0.0)), 6) AS energy_dist
      FROM s ORDER BY g"""))

  /** M3: monotone ('spline') bias correction via isotonic regression over the
    * sorted quantile pairs — now EXACT-oracle-gated (was rows-only): MLlib
    * IsotonicRegression is deterministic PAV, no RNG, and on sortedPairs
    * input the labels arrive already non-decreasing in feature order (both
    * columns are independently sorted before the positional zip), so the fit
    * reduces analytically to pooling duplicate features by mean — which a
    * window + GROUP BY mirrors exactly, no PAV iteration needed. The pooled
    * means stay monotone (each run's labels dominate every earlier label),
    * and every transformed point hits a model boundary exactly, so no
    * interpolation arithmetic is in play. Duplicate-pred runs are small and
    * integer-labeled → pooled means are exact in double on both engines;
    * the final mean goes through the decimal power-sum idiom (m9 precedent)
    * so summation order can't flake the hash.
    */
  val m3Isotonic: QueryDef = QueryDef(
    "m3_isotonic_bias",
    (s, dir) => {
      // the MLlib fit+transform (VectorAssembler ×2, RDD
      // PAV with driver boundary collect, per-row binary-search transform)
      // is replaced by its analytic equal, BiasCorrection.isotonicFitted —
      // the pooled mean per distinct pred, joined back on pred. Every
      // in-sample point hits a model boundary exactly, so transform(pred)
      // IS fitted(pred) (IsotonicEquivSpec pins the two paths equal);
      // oracle unchanged and hash-green tri-scale.
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "N")
        .withColumn("pred", col("l_extendedprice") / 1000.0)
        .withColumn("obs", col("l_quantity"))
      val fit = graft.ml.BiasCorrection.isotonicFitted(li, "pred", "obs")
      li.join(fit, Seq("pred"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("fitted").cast("decimal(30,8)")).cast("double") /
                   count(lit(1)), 4).as("mean_corrected"))
        .orderBy(col("l_linestatus"))
    },
    Some("""WITH src AS (SELECT l_extendedprice / 1000.0 AS pred, l_quantity AS obs,
               l_linestatus
             FROM lineitem WHERE l_returnflag = 'N'),
      p AS (SELECT pred, ROW_NUMBER() OVER (ORDER BY pred) AS rn FROM src),
      o AS (SELECT obs, ROW_NUMBER() OVER (ORDER BY obs) AS rn FROM src),
      fit AS (SELECT pred, AVG(obs) AS fitted
              FROM p JOIN o USING (rn) GROUP BY pred),
      pr AS (SELECT s.l_linestatus, f.fitted AS prediction
             FROM src s JOIN fit f ON s.pred = f.pred)
      SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(CAST(SUM(CAST(prediction AS DECIMAL(30,8))) AS DOUBLE)
              / COUNT(*), 4) AS mean_corrected
      FROM pr GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** M9's scoring stage on FIXED predictions: the same skillScores pass
    * `m9_intercomparison` applies to RF output, fed deterministic est/ref
    * columns so every score (decimal power-sum corr/stde/mae, logbias,
    * energy distance, weighted-quantile scatter) hash-matches DuckDB. The
    * RF fit stays rows-only in m9_intercomparison by design.
    */
  val m9SkillScores: QueryDef = QueryDef(
    "m9_skill_scores",
    (s, dir) => {
      // deterministic 5% slice (the m9_intercomparison sampling key): keeps
      // every (phase, fold) group far below the EnergyDistance aggregator's
      // 2^20 exact-buffer bound at ANY testdata sf — past it the aggregator
      // degrades to a sample whose membership is merge-order-dependent,
      // which would break the bit-exact mirror this query exists to prove
      val v = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(
        lit("M1").as("model"), lit("10min").as("agg"),
        when(col("l_discount") * 100.0 - 5.0 < 2.0, lit("solid"))
          .otherwise(lit("liquid")).as("phase"),
        (col("l_partkey") % 2).cast("int").as("fold"),
        (col("l_extendedprice") / 10000.0).cast("double").as("est"),
        (col("l_quantity") / 10.0).cast("double").as("ref"))
      graft.ml.Intercomparison.skillScores(v)
        .orderBy(col("model"), col("agg"), col("phase"), col("fold"))
    },
    Some("""WITH v AS (SELECT
        CASE WHEN l_discount * 100.0 - 5.0 < 2.0 THEN 'solid' ELSE 'liquid' END AS phase,
        CAST(l_partkey % 2 AS INT) AS fold,
        CAST(l_extendedprice / 10000.0 AS DOUBLE) AS est,
        CAST(l_quantity / 10.0 AS DOUBLE) AS ref
      FROM lineitem WHERE l_orderkey % 20 = 0),
      base AS (SELECT phase, fold, COUNT(*) AS n,
        CAST(SUM(CAST(est AS DECIMAL(27,10))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(ref AS DECIMAL(27,10))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(est * est AS DECIMAL(32,14))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(ref * ref AS DECIMAL(32,14))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(est * ref AS DECIMAL(32,14))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST((est - ref) AS DECIMAL(27,10))) AS DOUBLE) AS sd,
        CAST(SUM(CAST((est - ref) * (est - ref) AS DECIMAL(32,14))) AS DOUBLE) AS sdd,
        CAST(SUM(CAST(ABS(est - ref) AS DECIMAL(27,10))) AS DOUBLE) AS sad
        FROM v GROUP BY phase, fold),
      m AS (SELECT phase, fold, est AS val, 1 AS isx FROM v
            UNION ALL SELECT phase, fold, ref, 0 FROM v),
      tot AS (SELECT phase, fold, COUNT(*) // 2 AS n FROM m GROUP BY phase, fold),
      ord AS (SELECT phase, fold, val,
          SUM(isx) OVER w AS cx,
          SUM(1 - isx) OVER w AS cy,
          LEAD(val) OVER (PARTITION BY phase, fold ORDER BY val, isx) AS nxt
        FROM m WINDOW w AS (PARTITION BY phase, fold ORDER BY val, isx ROWS UNBOUNDED PRECEDING)),
      eds AS (SELECT o.phase, o.fold, ANY_VALUE(t.n) AS n,
          SUM((nxt - val) * (cx * (t.n - cy) + cy * (t.n - cx))) AS gxy,
          SUM((nxt - val) * 2 * cx * (t.n - cx)) AS gxx,
          SUM((nxt - val) * 2 * cy * (t.n - cy)) AS gyy
        FROM ord o JOIN tot t ON o.phase = t.phase AND o.fold = t.fold
        WHERE nxt IS NOT NULL
        GROUP BY o.phase, o.fold),
      edv AS (SELECT phase, fold, ROUND(SQRT(GREATEST(
          2.0 * gxy / (n*n) - gxx / (n*n) - gyy / (n*n), 0.0)), 6) AS ed
        FROM eds),
      cond AS (SELECT phase, fold, LOG10(est / ref) * 10.0 AS ratio_db, ref AS w
               FROM v WHERE est > 0.1 AND ref > 0.1),
      cum AS (SELECT phase, fold, ratio_db,
        CAST(SUM(CAST(w AS DECIMAL(27,10))) OVER (PARTITION BY phase, fold ORDER BY ratio_db
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumw,
        CAST(SUM(CAST(w AS DECIMAL(27,10))) OVER (PARTITION BY phase, fold) AS DOUBLE) AS totw
        FROM cond),
      qs AS (SELECT phase, fold,
        MIN(CASE WHEN cumw >= totw * 0.16 THEN ratio_db END) AS q16,
        MIN(CASE WHEN cumw >= totw * 0.84 THEN ratio_db END) AS q84
        FROM cum GROUP BY phase, fold)
      SELECT 'M1' AS model, '10min' AS agg, b.phase, b.fold, b.n,
        ROUND(CASE WHEN SQRT(GREATEST((b.n * b.sxx - b.sx * b.sx) * (b.n * b.syy - b.sy * b.sy), 0.0)) > 0
          THEN (b.n * b.sxy - b.sx * b.sy)
               / SQRT(GREATEST((b.n * b.sxx - b.sx * b.sx) * (b.n * b.syy - b.sy * b.sy), 0.0)) END, 6) AS corr,
        ROUND(CASE WHEN b.n > 1
          THEN SQRT(GREATEST((b.sdd - b.sd * b.sd / b.n) / (b.n - 1), 0.0)) END, 6) AS stde,
        ROUND(b.sad / b.n, 6) AS mae,
        ROUND(LOG10(b.sx / b.sy) * 10.0, 6) AS logbias_db,
        e.ed,
        ROUND((qs.q84 - qs.q16) / 2.0, 6) AS scatter_db
      FROM base b
      JOIN edv e ON e.phase = b.phase AND e.fold = b.fold
      LEFT JOIN qs ON qs.phase = b.phase AND qs.fold = b.fold
      ORDER BY model, agg, b.phase, b.fold"""))

  /** Reliability diagram (probability calibration): deterministic
    * pseudo-probabilities from the events table (the m9_skill_scores
    * fixed-inputs pattern — upstream model fits are RNG-gated, the
    * EVALUATION math is not), bucketed into deciles with per-bin mean
    * prediction and observed positive rate, decimal-accumulated.
    */
  val reliability: QueryDef = QueryDef(
    "m12_reliability",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select((abs(col("event_id") % 100).cast("double") / 100.0).as("est"),
          (col("value") > 50.0).as("pos"))
      e.groupBy(floor(col("est") * 10).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"),
          Ora.r6(Ora.dmean(col("est"))).as("mean_est"),
          Ora.r6(Ora.dmean(col("pos").cast("double"))).as("pos_rate"))
        .orderBy(col("bin"))
    },
    Some(s"""WITH e AS (SELECT
          CAST(abs(event_id % 100) AS DOUBLE) / 100.0 AS est,
          (value > 50.0) AS pos
        FROM events)
      SELECT CAST(FLOOR(est * 10) AS INT) AS bin, COUNT(*) AS n,
        ROUND(${Ora.dmeanSql("est")}, 6) AS mean_est,
        ROUND(${Ora.dmeanSql("CAST(pos AS DOUBLE)")}, 6) AS pos_rate
      FROM e GROUP BY 1 ORDER BY bin"""))

  /** AUC-ROC of the event-id-derived score against the value>50 label —
    * Mann-Whitney rank-sum on the contracted per-score relation.
    */
  val aucRoc: QueryDef = QueryDef(
    "m13_auc_roc",
    (s, dir) => Scores.aucRoc(
      t(s, dir, "events")
        .select((abs(col("event_id") % 100).cast("double") / 100.0).as("score"),
          (col("value") > 50.0).as("pos")),
      "score", "pos"),
    Some("""WITH b AS (SELECT CAST(abs(event_id % 100) AS DOUBLE) / 100.0 AS s,
        (value > 50.0) AS pos FROM events
        WHERE value IS NOT NULL),
      g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM b GROUP BY 1),
      r AS (SELECT s, n, np,
        COALESCE(SUM(n) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM g),
      a AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        CAST(SUM(n - np) AS BIGINT) AS n_neg,
        CAST(SUM(CAST((CAST(np AS DOUBLE) *
          (CAST(cum AS DOUBLE) + (n + 1) / 2.0)) AS DECIMAL(27,10)))
          AS DOUBLE) AS spr
        FROM r)
    SELECT n_pos, n_neg,
      CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        ROUND((spr - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0) /
          (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) END AS auc
    FROM a"""))

  /** ECE + MCE over 10 equal-width probability bins (m12's diagram
    * reduced to its headline numbers).
    */
  val calibrationEce: QueryDef = QueryDef(
    "m15_calibration_ece",
    (s, dir) => Scores.calibrationEce(
      t(s, dir, "events")
        .select((abs(col("event_id") % 100).cast("double") / 100.0).as("est"),
          (col("value") > 50.0).as("pos")),
      "est", "pos", bins = 10),
    Some("""WITH e AS (SELECT CAST(abs(event_id % 100) AS DOUBLE) / 100.0 AS est,
        CAST((value > 50.0) AS DOUBLE) AS pos FROM events
        WHERE value IS NOT NULL),
      b AS (SELECT CAST(LEAST(FLOOR(est * 10), 9) AS INT) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(est AS DECIMAL(27,10))) AS DOUBLE) AS se,
        CAST(SUM(CAST(pos AS DECIMAL(27,10))) AS DOUBLE) AS sp
        FROM e GROUP BY 1),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        CAST(SUM(n) AS BIGINT) AS n,
        CAST(SUM(CAST((CAST(n AS DOUBLE) * ABS(sp / n - se / n))
          AS DECIMAL(27,10))) AS DOUBLE) AS wg,
        ROUND(MAX(ABS(sp / n - se / n)), 6) AS mce
        FROM b)
    SELECT n_bins, n, ROUND(wg / CAST(n AS DOUBLE), 6) AS ece, mce FROM a"""))

  /** Gaussian NB on the value feature: train on event_id %5 != 0, score
    * the held-out fifth, gate the confusion matrix.
    */
  val gaussianNb: QueryDef = QueryDef(
    "ml_gaussian_nb",
    (s, dir) => graft.llm.Classify.gaussianNbConfusion(
        t(s, dir, "events"), "event_id", "event_type", "value",
        col("event_id") % 5 =!= 0)
      .orderBy(col("actual"), col("predicted")),
    Some("""WITH b AS (SELECT event_id, event_type AS label,
        CAST(value AS DOUBLE) AS v, (event_id % 5 <> 0) AS is_train
        FROM events WHERE value IS NOT NULL),
      m AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS sv,
        CAST(SUM(CAST((v * v) AS DECIMAL(27,10))) AS DOUBLE) AS svv,
        MIN(v) AS mn, MAX(v) AS mx
        FROM b WHERE is_train GROUP BY 1),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS td FROM b WHERE is_train),
      p AS (SELECT label AS cls,
        LN(CAST(n AS DOUBLE) / CAST(td AS DOUBLE)) AS prior,
        sv / CAST(n AS DOUBLE) AS mu,
        (svv - sv * sv / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vr,
        mx > mn AS varies
        FROM m CROSS JOIN t),
      sc AS (SELECT b.event_id, b.label, p.cls,
        ROUND(p.prior + CASE WHEN p.varies THEN
          -0.5 * LN(p.vr) - (b.v - p.mu) * (b.v - p.mu) / (2.0 * p.vr)
          ELSE 0.0 END, 6) AS score
        FROM b CROSS JOIN p WHERE NOT is_train),
      pr AS (SELECT event_id, label AS actual, cls AS predicted,
        ROW_NUMBER() OVER (PARTITION BY event_id
          ORDER BY score DESC, cls) AS rn FROM sc)
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY actual, predicted"""))

  /** NDCG@10 of the 16-dim Matryoshka-prefix cosine ranking against the
    * full-64-dim exact ranking (graded relevance 11 − exact rank).
    */
  val ndcgMatryoshka: QueryDef = {
    val k = 10; val maxQid = 10; val dimFull = 64; val dimPrefix = 16
    val disc = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    val idcg = (1 to k).map(i => (k + 1 - i) * disc(i - 1)).sum
    val discCase = (1 to k)
      .map(i => s"WHEN $i THEN ${disc(i - 1).toString}")
      .mkString("CASE a.rank ", " ", " END")
    QueryDef(
      "m14_ndcg",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // cosine() runs over the FULL array whatever `dim` says — the
        // prefix ranking needs a physically sliced column (the
        // simsearch_matryoshka_recall precedent)
        val sliced = emb.select(col("vec_id"),
          slice(col("embedding"), 1, dimPrefix).as("emb_p"))
        val ap = Similarity.bruteForceTopKAgg(sliced,
          sliced.filter(col("vec_id") < maxQid), "vec_id", "emb_p",
          dim = dimPrefix, k = k)
        val ex = Similarity.bruteForceTopKAgg(emb,
            emb.filter(col("vec_id") < maxQid), "vec_id", "embedding",
            dim = dimFull, k = k)
          .select(col("qid"), col("vb"), col("rank").as("er"))
        val discArr = typedLit(disc.toArray)
        val gain = ap.join(ex, Seq("qid", "vb"), "left")
          .select(col("qid"),
            (coalesce(lit(k + 1) - col("er"), lit(0)).cast("double") *
              element_at(discArr, col("rank"))).as("g"))
        gain.groupBy(col("qid"))
          .agg(sum(col("g").cast("decimal(27,10)")).cast("double").as("dcg"))
          .select(col("qid"), round(col("dcg") / lit(idcg), 6).as("ndcg"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH ex AS (SELECT qid, rank, vb FROM
          (${Ora.bruteForceTopKSql(maxQid, k, dimFull)})),
        ap AS (SELECT qid, rank, vb FROM
          (${Ora.bruteForceTopKSql(maxQid, k, dimPrefix)})),
        g AS (SELECT a.qid,
          CAST(COALESCE(${k + 1} - e.rank, 0) AS DOUBLE) *
            ($discCase) AS g
          FROM ap a LEFT JOIN ex e ON e.qid = a.qid AND e.vb = a.vb),
        d AS (SELECT qid, CAST(SUM(CAST(g AS DECIMAL(27,10)))
          AS DOUBLE) AS dcg FROM g GROUP BY 1)
      SELECT qid, ROUND(dcg / ${idcg.toString}, 6) AS ndcg
      FROM d ORDER BY qid"""))
  }

  /** Logistic regression (purchase vs rest) on scaled (value, hour):
    * 3 unrolled IRLS steps, coefficient row gated.
    */
  val logregIrls: QueryDef = {
    val iters = 3
    val steps = Ora.irlsStepsSql(iters)
    QueryDef(
      "ml_logreg_irls",
      (s, dir) => graft.ml.Glm.logisticIrls(
        t(s, dir, "events")
          .filter(col("value").isNotNull)
          .select((col("event_type") === "purchase").cast("double").as("y"),
            (col("value") / lit(100.0)).as("x1"),
            (hour(col("ts")).cast("double") / lit(24.0)).as("x2")),
        "y", "x1", "x2", iters = iters),
      Some(s"""WITH base AS (SELECT
          CAST(event_type = 'purchase' AS DOUBLE) AS y,
          CAST(value AS DOUBLE) / 100.0 AS x1,
          CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) / 24.0 AS x2
          FROM events WHERE value IS NOT NULL),
        bet0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
        $steps
      SELECT n, ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2
      FROM bet$iters"""))
  }

  /** Huber-IRLS robust fit of value on hour-of-day — three reweighted
    * rounds from the OLS start; no libm call anywhere, so the whole fit
    * is exactly deterministic with no rounding tricks.
    */
  val huberIrls: QueryDef = {
    val c = 1.5; val iters = 3
    def wlsSql(src: String, i: Int) =
      s"""m$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          ${dsumSql("w")} AS sw, ${dsumSql("w * x")} AS swx,
          ${dsumSql("w * x * x")} AS swxx, ${dsumSql("w * y")} AS swy,
          ${dsumSql("w * x * y")} AS swxy FROM $src),
        bet$i AS (SELECT n,
          (swy * swxx - swx * swxy) / (sw * swxx - swx * swx) AS b0,
          (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b1
          FROM m$i)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT b.y, b.x,
          CASE WHEN ABS(b.y - (t.b0 + t.b1 * b.x)) <= $c THEN 1.0
            ELSE $c / ABS(b.y - (t.b0 + t.b1 * b.x)) END AS w
          FROM base b CROSS JOIN bet${i - 1} t),
        ${wlsSql(s"r$i", i)}"""
    }.mkString(",\n        ")
    QueryDef(
      "ml_huber_irls",
      (s, dir) => graft.ml.Glm.huberIrls(
        t(s, dir, "events")
          .filter(col("value").isNotNull)
          .select(col("value").as("y"),
            hour(col("ts")).cast("double").as("x")),
        "y", "x", c = c, iters = iters),
      Some(s"""WITH base AS (SELECT CAST(value AS DOUBLE) AS y,
          CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS x
          FROM events WHERE value IS NOT NULL),
        w0 AS (SELECT y, x, 1.0 AS w FROM base),
        ${wlsSql("w0", 0)},
        $steps
      SELECT n, ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1 FROM bet$iters"""))
  }

  /** Point-in-time-correct training features: at each purchase event, the
    * user's STRICTLY-PRIOR activity (count + last value of non-purchase
    * events) under the (ts, event_id) total order — the feature-store
    * primitive that prevents label leakage. One per-user window over the
    * merged stream; label rows filter out at the end, so the features
    * for every label come from a single pass however many labels a user
    * has.
    */
  val pitFeatures: QueryDef = QueryDef(
    "m18_pit_features",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val np = col("event_type") =!= "purchase"
      t(s, dir, "events").filter(col("user_id") < 60)
        .withColumn("n_prior",
          coalesce(sum(when(np, 1L).otherwise(0L)).over(w), lit(0L)))
        .withColumn("last_prior_value",
          last(when(np, col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("n_prior"), round(col("last_prior_value"), 6).as("last_prior_value"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""WITH b AS (SELECT event_id, user_id, ts, event_type, value,
        COALESCE(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_prior,
        LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN value END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_prior_value
        FROM events WHERE user_id < 60)
    SELECT event_id, user_id, ts, CAST(n_prior AS BIGINT) AS n_prior,
      ROUND(last_prior_value, 6) AS last_prior_value
    FROM b WHERE event_type = 'purchase'
    ORDER BY user_id, ts, event_id"""))

  /** Population Stability Index per feature between the even/odd
    * event-id halves (add-one-smoothed bins, decimal-truncated ln terms)
    * — the model-monitoring drift score.
    */
  val psiDrift: QueryDef = QueryDef(
    "m19_psi_drift",
    (s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(27,10)")
      def psiOf(bin: org.apache.spark.sql.Column, feature: String): DataFrame = {
        val b = t(s, dir, "events").filter(col("value").isNotNull)
          .select((col("event_id") % 2 === 0).as("half_a"), bin.as("bin"))
          .groupBy(col("bin"))
          .agg(sum(when(col("half_a"), 1L).otherwise(0L)).as("ca"),
            sum(when(!col("half_a"), 1L).otherwise(0L)).as("cb"))
        val tot = b.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          count(lit(1)).as("nbins"))
        val w = b.crossJoin(broadcast(tot))
          .select(((col("ca") + 1).cast("double") /
              (col("na") + col("nbins")).cast("double")).as("pa"),
            ((col("cb") + 1).cast("double") /
              (col("nb") + col("nbins")).cast("double")).as("pb"),
            col("nbins"))
        w.agg(first(col("nbins")).as("n_bins"),
            round(sum(dec((col("pa") - col("pb")) * log(col("pa") / col("pb"))))
              .cast("double"), 6).as("psi"))
          .select(lit(feature).as("feature"), col("n_bins"), col("psi"))
      }
      psiOf(floor(col("value") / 100.0).cast("long"), "value_bin100")
        .unionAll(psiOf(hour(col("ts")).cast("long"), "hour"))
        .orderBy(col("feature"))
    },
    Some(s"""WITH ev AS (SELECT event_id, (event_id % 2 = 0) AS half_a,
        CAST(value AS DOUBLE) AS v, ts FROM events WHERE value IS NOT NULL),
      b1 AS (SELECT CAST(FLOOR(v / 100.0) AS BIGINT) AS bin,
        CAST(SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM ev GROUP BY 1),
      t1 AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        CAST(SUM(cb) AS BIGINT) AS nb, CAST(COUNT(*) AS BIGINT) AS nbins
        FROM b1),
      p1 AS (SELECT 'value_bin100' AS feature, t1.nbins AS n_bins,
        ROUND(CAST(SUM(CAST((
          (CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) -
           CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)) *
          LN((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE)) /
             (CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)))
          ) AS DECIMAL(27,10))) AS DOUBLE), 6) AS psi
        FROM b1 CROSS JOIN t1 GROUP BY t1.nbins),
      b2 AS (SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS bin,
        CAST(SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM ev GROUP BY 1),
      t2 AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        CAST(SUM(cb) AS BIGINT) AS nb, CAST(COUNT(*) AS BIGINT) AS nbins
        FROM b2),
      p2 AS (SELECT 'hour' AS feature, t2.nbins AS n_bins,
        ROUND(CAST(SUM(CAST((
          (CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE) -
           CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)) *
          LN((CAST(ca + 1 AS DOUBLE) / CAST(na + nbins AS DOUBLE)) /
             (CAST(cb + 1 AS DOUBLE) / CAST(nb + nbins AS DOUBLE)))
          ) AS DECIMAL(27,10))) AS DOUBLE), 6) AS psi
        FROM b2 CROSS JOIN t2 GROUP BY t2.nbins)
    SELECT * FROM p1 UNION ALL SELECT * FROM p2 ORDER BY feature"""))

  /** Delete-one-group jackknife confidence interval for the mean value,
    * over 10 deterministic hash splits: the event's md5-derived bucket
    * replaces RNG resampling, so the whole uncertainty estimate sits
    * under the exact cross-engine gate. Per event type: the full-sample
    * mean, the jackknife standard error
    *   se = √((g−1)/g · Σ(m̄₋ᵢ − m̄)²)  over leave-one-bucket-out means,
    * and the ±1.96·se interval.
    *
    * Scale shape: ONE (type, bucket) sufficient-statistics agg; the
    * leave-one-out means are algebra on the g-row per-type relation —
    * resampling without ever touching the corpus twice.
    */
  val jackknifeCi: QueryDef = {
    val g = 10
    QueryDef(
      "m20_jackknife_ci",
      (s, dir) => {
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(27,10)")
        val b = t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type"),
            (graft.llm.TextAnalysis.md5Long(col("event_id").cast("string"))
              % g).as("bkt"),
            col("value"))
          .groupBy(col("event_type"), col("bkt"))
          .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
        val tot = b.groupBy(col("event_type"))
          .agg(sum(col("n")).as("tn"), sum(col("sv")).as("tsv"),
            count(lit(1)).as("ng"))
        val loo = b.join(tot, Seq("event_type"))
          .select(col("event_type"), col("tn"), col("tsv"), col("ng"),
            ((col("tsv") - col("sv")).cast("double") /
              (col("tn") - col("n")).cast("double")).as("m_loo"),
            (col("tsv").cast("double") / col("tn").cast("double")).as("m_full"))
        loo.groupBy(col("event_type"))
          .agg(first(col("tn")).as("n"),
            round(first(col("m_full")), 6).as("mean"),
            round(sqrt(
              (first(col("ng")).cast("double") - lit(1.0)) /
                first(col("ng")).cast("double") *
              sum(dec((col("m_loo") - col("m_full")) *
                (col("m_loo") - col("m_full")))).cast("double")), 6).as("se"))
          .select(col("event_type"), col("n"), col("mean"), col("se"),
            round(col("mean") - lit(1.96) * col("se"), 6).as("ci_lo"),
            round(col("mean") + lit(1.96) * col("se"), 6).as("ci_hi"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH b AS (SELECT event_type,
          ${Ora.md5LongSql("CAST(event_id AS VARCHAR)")} % $g AS bkt,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(value AS DECIMAL(27,10))) AS sv
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        tt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn,
          CAST(SUM(sv) AS DECIMAL(27,10)) AS tsv,
          CAST(COUNT(*) AS BIGINT) AS ng FROM b GROUP BY 1),
        loo AS (SELECT b.event_type, t.tn, t.ng,
          CAST(t.tsv - b.sv AS DOUBLE) / CAST(t.tn - b.n AS DOUBLE) AS m_loo,
          CAST(t.tsv AS DOUBLE) / CAST(t.tn AS DOUBLE) AS m_full
          FROM b JOIN tt t USING (event_type)),
        agg AS (SELECT event_type, ANY_VALUE(tn) AS n,
          ROUND(ANY_VALUE(m_full), 6) AS mean,
          ROUND(SQRT(
            (CAST(ANY_VALUE(ng) AS DOUBLE) - 1.0) /
              CAST(ANY_VALUE(ng) AS DOUBLE) *
            CAST(SUM(CAST(((m_loo - m_full) * (m_loo - m_full))
              AS DECIMAL(27,10))) AS DOUBLE)), 6) AS se
          FROM loo GROUP BY 1)
      SELECT event_type, n, mean, se,
        ROUND(mean - 1.96 * se, 6) AS ci_lo,
        ROUND(mean + 1.96 * se, 6) AS ci_hi
      FROM agg ORDER BY event_type"""))
  }

  /** J10-iso fixture: per-"radar" (event_type) centroid tables in RAW
    * feature space, standardized by the same fixed ranges as the data —
    * exactly how the reference standardizes constants.HYDRO_CENTROIDS
    * per radar before cdist (radarprocessing.py:755-761).
    */
  private val isoFeatures = Seq("zh", "hr", "hoi")

  private val isoRanges = Seq((0.0, 100.0), (0.0, 23.0), (-25.0, 100.0))

  private val isoWeights = Seq(1.0, 0.75, 0.5)

  private val isoCentroids: Seq[(String, Seq[(String, Seq[Double])])] = Seq(
    "click" -> Seq("LR" -> Seq(20.0, 8.0, 10.0),
      "RN" -> Seq(55.0, 14.0, 40.0), "WS" -> Seq(35.0, 19.0, -10.0)),
    "error" -> Seq("LR" -> Seq(18.0, 6.0, 12.0),
      "RN" -> Seq(58.0, 15.0, 42.0), "WS" -> Seq(32.0, 20.0, -12.0)),
    "purchase" -> Seq("LR" -> Seq(22.0, 9.0, 9.0),
      "RN" -> Seq(52.0, 13.0, 38.0), "WS" -> Seq(37.0, 18.0, -8.0)),
    "signup" -> Seq("LR" -> Seq(19.0, 7.0, 11.0),
      "RN" -> Seq(56.0, 16.0, 41.0), "WS" -> Seq(33.0, 21.0, -11.0)),
    "view" -> Seq("LR" -> Seq(21.0, 8.5, 10.5),
      "RN" -> Seq(54.0, 14.5, 39.0), "WS" -> Seq(36.0, 19.5, -9.0)))

  // ---- SQL mirror generators: the SAME arithmetic, token for token ----
  // Double.toString: shortest round-trip repr, locale-independent (the
  // f"%.1f" interpolator renders "0,5" under comma-decimal locales and
  // would silently change the variadic LEAST/GREATEST arity in the SQL)
  private def fmt(d: Double): String = d.toString

  private def stdSql(e: String, mn: Double, mx: Double): String =
    s"2.0 * (LEAST(GREATEST($e, ${fmt(mn)}), ${fmt(mx)}) - ${fmt(mn)}) / " +
      s"${fmt(mx - mn)} - 1.0"

  private def distSql(cvals: Seq[Double]): String =
    isoFeatures.indices.map { i =>
      val (mn, mx) = isoRanges(i)
      val d = s"(${stdSql(isoFeatures(i), mn, mx)} - " +
        s"(${stdSql(fmt(cvals(i)), mn, mx)}))"
      s"${fmt(isoWeights(i))} * $d * $d"
    }.mkString(" + ")

  private def groupCaseSql(cs: Seq[(String, Seq[Double])]): String = {
    val Seq((n1, v1), (n2, v2), (n3, v3)) = cs
    val (d1, d2, d3) = (distSql(v1), distSql(v2), distSql(v3))
    s"""CASE WHEN ($d1) <= ($d2) AND ($d1) <= ($d3) THEN '$n1'
        WHEN ($d2) <= ($d3) THEN '$n2' ELSE '$n3' END"""
  }

  /** Per-radar nearest-centroid classification with the height-over-ISO0
    * feature — `hydroClass_single_over_iso`
    * (common/radarprocessing.py:707-779; called from
    * database_5min/retrieve_radar_data_5min.py:767 with
    * height_over_iso0 as the 5th feature). Static per-group centroids,
    * pyart fixed-range standardization of BOTH gates and centroids,
    * weighted squared-Euclidean argmin — all compiled into one codegen'd
    * projection (no join, no shuffle; see
    * [[graft.ml.HydroClass.classifyPerGroup]]).
    */
  val j10CentroidIso: QueryDef = QueryDef(
    "j10_nearest_centroid_iso",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type").as("radar"),
          col("value").as("zh"),
          hour(col("ts")).cast("double").as("hr"),
          (col("value") - hour(col("ts")).cast("double")).as("hoi"))
      val cents = isoCentroids.map { case (g, cs) =>
        g -> cs.map { case (n, vs) => HydroClass.Centroid(n, vs) }
      }.toMap
      HydroClass.classifyPerGroup(ev, "radar", isoFeatures, isoRanges,
          cents, isoWeights)
        .select(col("event_id"), col("radar"), col("hydro_class"))
        .orderBy(col("event_id"))
    },
    Some {
      val radarCase = isoCentroids.map { case (g, cs) =>
        s"WHEN radar = '$g' THEN (${groupCaseSql(cs)})"
      }.mkString("\n        ")
      s"""WITH ev AS (SELECT event_id, event_type AS radar, value AS zh,
          CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS hr,
          value - CAST(EXTRACT(HOUR FROM ts) AS DOUBLE) AS hoi
        FROM events WHERE value IS NOT NULL)
      SELECT event_id, radar,
        CASE $radarCase END AS hydro_class
      FROM ev ORDER BY event_id"""
    })

  /** M1/M4 frozen-model replay: the predict + bias-correction + clamp
    * stage of the RF pipeline on FIXED trees
    * ([[graft.ml.FrozenRf]] — extracted once from the seeded fit by
    * graft.tools.FreezeRf, MLlib-parity-verified at freeze time), scored
    * as native `when`-chain expressions and mirrored as the identical
    * nested CASE SQL. This puts everything downstream of the RNG under
    * the exact cross-engine hash gate — only `fit` itself remains
    * spec-gated (reference ml/rfdefinitions.py:205-242 predict:
    * forest mean → 'cdf' BC → max(·, 0)).
    */
  val m1PredictFrozen: QueryDef = QueryDef(
    "m1_rf_predict_frozen",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").as("f1"), col("l_discount").as("f2"),
        col("l_tax").as("f3"))
      li.withColumn("pred", graft.ml.FrozenRf.frozenColumn(
          Seq(col("f1"), col("f2"), col("f3"))))
        .withColumn("pred_bc",
          greatest(lit(0.0), col("pred") * lit(graft.ml.FrozenRf.bcSlope)))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Ora.dsum6(col("pred")).as("sum_pred"),
          Ora.dsum6(col("pred_bc")).as("sum_pred_bc"))
        .orderBy(col("l_returnflag"))
    },
    Some {
      val forest = graft.ml.FrozenRf.frozenSql(Seq("f1", "f2", "f3"))
      s"""WITH li AS (SELECT l_returnflag, l_quantity AS f1,
          l_discount AS f2, l_tax AS f3 FROM lineitem),
        sc AS (SELECT l_returnflag, $forest AS pred FROM li),
        bc AS (SELECT l_returnflag, pred,
          GREATEST(0.0, pred * ${graft.ml.FrozenRf.bcSlope}) AS pred_bc
          FROM sc)
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        ${Ora.dsum6Sql("pred")} AS sum_pred,
        ${Ora.dsum6Sql("pred_bc")} AS sum_pred_bc
      FROM bc GROUP BY l_returnflag ORDER BY l_returnflag"""
    })

  private val pcaIters = 6

  private val pcaDim = 64

  /** The unrolled w/n/v CTE chain of [[Pca.powerIteration]] over the
    * NORMALIZED Gram — one decimal matvec + one decimal norm per round,
    * both rounded 6 dp in decimal before the cast, token-identical
    * arithmetic.
    */
  private def pcaRoundsSql(iters: Int): String =
    (1 to iters).map { r =>
      s"""w$r AS (SELECT g.i, CAST(ROUND(SUM(CAST(g.g * v.v AS DECIMAL(27,10))), 6) AS DOUBLE) AS w
          FROM gn g JOIN v${r - 1} v ON g.j = v.i GROUP BY g.i),
        n$r AS (SELECT CAST(ROUND(SUM(CAST(w * w AS DECIMAL(27,10))), 6) AS DOUBLE) AS n2 FROM w$r),
        v$r AS (SELECT i, w / SQRT(n2) AS v FROM w$r CROSS JOIN n$r)"""
    }.mkString(",\n        ")

  /** Top principal component of the embedding corpus ([[Pca.topComponent]]):
    * one distributed Gram pass (d² decimal sums, map-side combinable — the
    * ONLY stage that touches the corpus) + 6 relational power-iteration
    * rounds on the 64×64 Gram + sign normalization + Rayleigh lambda. The
    * mirror unrolls the identical rounds as CTEs.
    */
  /** The corpus Gram, built + checkpointed ONCE per session — shared by
    * pca_power_iteration and pca_deflation_top2 (the graph-family memo
    * pattern; the Gram pass is both queries' only corpus-touching stage).
    */
  private def gramShared(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, s"pca_gram_$pcaDim") {
      Pca.gram(t(s, dir, "embeddings"), "embedding", pcaDim)
    }

  val pcaPowerIteration: QueryDef = QueryDef(
    "pca_power_iteration",
    (s, dir) => {
      Pca.powerIteration(gramShared(s, dir), pcaDim, pcaIters)
        .orderBy(col("comp"))
    },
    Some(s"""WITH g AS MATERIALIZED (
        SELECT gi.i, gj.j,
          CAST(CAST(SUM(CAST(FLOOR((CAST(e.embedding[gi.i] AS DOUBLE) * CAST(e.embedding[gj.j] AS DOUBLE))
            * 1.0E8) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E8 AS g
        FROM embeddings e, generate_series(1, $pcaDim) gi(i), generate_series(1, $pcaDim) gj(j)
        WHERE e.embedding IS NOT NULL AND len(e.embedding) = $pcaDim
        GROUP BY gi.i, gj.j),
      sc AS (SELECT MAX(ABS(g)) AS s FROM g),
      gn AS MATERIALIZED (SELECT i, j, g / s AS g FROM g CROSS JOIN sc),
      v0 AS (SELECT t.i, 1.0 / SQRT(${pcaDim.toDouble}) AS v
        FROM generate_series(1, $pcaDim) t(i)),
      ${pcaRoundsSql(pcaIters)},
      lam AS (SELECT CAST(ROUND(SUM(CAST(vi.v * g.g * vj.v AS DECIMAL(27,10))), 6) AS DOUBLE) AS lamhat
        FROM gn g JOIN v$pcaIters vi ON g.i = vi.i JOIN v$pcaIters vj ON g.j = vj.i),
      sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg
        FROM v$pcaIters ORDER BY ABS(v) DESC, i LIMIT 1)
      SELECT v.i AS comp, ROUND(v.v * sg, 6) AS loading,
        ROUND(lamhat * s, 6) AS lambda
      FROM v$pcaIters v CROSS JOIN sgn CROSS JOIN lam CROSS JOIN sc
      ORDER BY comp"""))

  /** PCA anomaly detection ([[Pca.projectAnomalies]]) — the APPLY side of
    * the trained component: project every embedding onto the gated
    * loadings and rank by reconstruction error through the bounded TopK
    * aggregator. Train and apply share the one memoized session Gram.
    * recon_err is emitted RAW: both operands are 1e-10-quantized
    * rationals, so the error can terminate on a 6-dp half boundary — the
    * one case engines round differently; the unrounded doubles are
    * bit-identical by construction.
    */
  val pcaAnomalyTopk: QueryDef = QueryDef(
    "pca_anomaly_topk",
    (s, dir) => {
      val comps = Pca.powerIteration(gramShared(s, dir), pcaDim, pcaIters)
      Pca.projectAnomalies(t(s, dir, "embeddings"), "vec_id", "embedding",
        pcaDim, comps, k = 20)
        .orderBy(col("rank"))
    },
    Some(s"""WITH g AS MATERIALIZED (
        SELECT gi.i, gj.j,
          CAST(CAST(SUM(CAST(FLOOR((CAST(e.embedding[gi.i] AS DOUBLE) * CAST(e.embedding[gj.j] AS DOUBLE))
            * 1.0E8) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E8 AS g
        FROM embeddings e, generate_series(1, $pcaDim) gi(i), generate_series(1, $pcaDim) gj(j)
        WHERE e.embedding IS NOT NULL AND len(e.embedding) = $pcaDim
        GROUP BY gi.i, gj.j),
      sc AS (SELECT MAX(ABS(g)) AS s FROM g),
      gn AS MATERIALIZED (SELECT i, j, g / s AS g FROM g CROSS JOIN sc),
      v0 AS (SELECT t.i, 1.0 / SQRT(${pcaDim.toDouble}) AS v
        FROM generate_series(1, $pcaDim) t(i)),
      ${pcaRoundsSql(pcaIters)},
      sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg
        FROM v$pcaIters ORDER BY ABS(v) DESC, i LIMIT 1),
      ldg AS (SELECT v.i AS comp, ROUND(v.v * sg, 6) AS loading
        FROM v$pcaIters v CROSS JOIN sgn),
      expl AS (SELECT e.vec_id AS id, t.i AS comp,
          CAST(e.embedding[t.i] AS DOUBLE) AS x
        FROM embeddings e, generate_series(1, $pcaDim) t(i)
        WHERE e.embedding IS NOT NULL AND len(e.embedding) = $pcaDim),
      pr AS (SELECT id,
          CAST(CAST(SUM(CAST(FLOOR((x * loading) * 1.0E10) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E10 AS score,
          CAST(CAST(SUM(CAST(FLOOR((x * x) * 1.0E10) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E10 AS n2
        FROM expl JOIN ldg USING (comp) GROUP BY id),
      er AS (SELECT id, n2 - score * score AS err FROM pr)
      SELECT CAST(rank AS INT) AS rank, id, err AS recon_err FROM (
        SELECT id, err, ROW_NUMBER() OVER (ORDER BY err DESC, id) AS rank
        FROM er)
      WHERE rank <= 20 ORDER BY rank"""))

  private val dim = 64

  private val iters = 6

  /** One power-iteration CTE chain over Gram relation `g`, round names
    * prefixed so two chains can coexist (the deflation mirror).
    */
  private def roundsSql(g: String, p: String): String = {
    val head = s"""${p}v0 AS (SELECT t.i, 1.0 / SQRT(${dim.toDouble}) AS v
        FROM generate_series(1, $dim) t(i))"""
    val rounds = (1 to iters).map { r =>
      s"""${p}w$r AS (SELECT g.i, CAST(ROUND(SUM(CAST(g.g * v.v AS DECIMAL(27,10))), 6) AS DOUBLE) AS w
          FROM $g g JOIN ${p}v${r - 1} v ON g.j = v.i GROUP BY g.i),
        ${p}n$r AS (SELECT CAST(ROUND(SUM(CAST(w * w AS DECIMAL(27,10))), 6) AS DOUBLE) AS n2 FROM ${p}w$r),
        ${p}v$r AS (SELECT i, w / SQRT(n2) AS v FROM ${p}w$r CROSS JOIN ${p}n$r)"""
    }.mkString(",\n        ")
    s"$head,\n        $rounds"
  }

  /** The presentation stage of one component over Gram `g` and final
    * vector `v`: rounded Rayleigh lambda, sign CTE, (pc, comp, loading,
    * lambda) select — token-identical to [[Pca]]'s present().
    */
  private def presentSql(pc: Int, g: String, v: String, p: String): String =
    s"""${p}lam AS (SELECT CAST(ROUND(SUM(CAST(vi.v * g.g * vj.v AS DECIMAL(27,10))), 6) AS DOUBLE) AS lamhat
        FROM $g g JOIN $v vi ON g.i = vi.i JOIN $v vj ON g.j = vj.i),
      ${p}sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg
        FROM $v ORDER BY ABS(v) DESC, i LIMIT 1),
      ${p}out AS (SELECT $pc AS pc, v.i AS comp, ROUND(v.v * sg, 6) AS loading,
        ROUND(lamhat * s, 6) AS lambda
        FROM $v v CROSS JOIN ${p}sgn CROSS JOIN ${p}lam CROSS JOIN sc)"""

  /** Top-2 principal components by Hotelling deflation
    * ([[Pca.topComponents]]): after the first component converges,
    * G ← G − λ·v·vᵀ (λ the UNROUNDED Rayleigh value) and the second chain
    * runs on the deflated Gram — still one corpus pass total.
    */
  val pcaDeflationTop2: QueryDef = QueryDef(
    "pca_deflation_top2",
    (s, dir) => {
      Pca.topComponentsFromGram(gramShared(s, dir), dim,
        nComponents = 2, iters = iters)
        .orderBy(col("pc"), col("comp"))
    },
    // g/g2 are MATERIALIZED: the two unrolled chains reference each Gram
    // ~8 times, and an inlined CTE re-opens the parquet scan per reference
    // (DuckDB ran out of file handles at reference 15)
    Some(s"""WITH g AS MATERIALIZED (
        SELECT gi.i, gj.j,
          CAST(CAST(SUM(CAST(FLOOR((CAST(e.embedding[gi.i] AS DOUBLE) * CAST(e.embedding[gj.j] AS DOUBLE))
            * 1.0E8) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E8 AS g
        FROM embeddings e, generate_series(1, $dim) gi(i), generate_series(1, $dim) gj(j)
        WHERE e.embedding IS NOT NULL AND len(e.embedding) = $dim
        GROUP BY gi.i, gj.j),
      sc AS (SELECT MAX(ABS(g)) AS s FROM g),
      gn AS MATERIALIZED (SELECT i, j, g / s AS g FROM g CROSS JOIN sc),
      ${roundsSql("gn", "a")},
      ${presentSql(1, "gn", s"av$iters", "a")},
      lamraw AS (SELECT CAST(SUM(CAST(vi.v * g.g * vj.v AS DECIMAL(27,10))) AS DOUBLE) AS l
        FROM gn g JOIN av$iters vi ON g.i = vi.i JOIN av$iters vj ON g.j = vj.i),
      g2 AS MATERIALIZED (SELECT g.i, g.j, g.g - lr.l * vi.v * vj.v AS g
        FROM gn g JOIN av$iters vi ON g.i = vi.i JOIN av$iters vj ON g.j = vj.i
        CROSS JOIN lamraw lr),
      ${roundsSql("g2", "b")},
      ${presentSql(2, "g2", s"bv$iters", "b")}
      SELECT * FROM aout UNION ALL SELECT * FROM bout
      ORDER BY pc, comp"""))

  private val reps = 32

  private val tailK = 2

  /** The Poisson(1)-CDF CASE over the 60-bit-md5 uniform — identical
    * threshold literals to the Spark plan (Double.toString text).
    */
  private def poissonCaseSql: String = {
    val whens = Stats.poissonCdf.zipWithIndex.map { case (c, k) =>
      s"WHEN u < ${java.lang.Double.toString(c)} THEN CAST($k AS BIGINT)"
    }.mkString(" ")
    s"CASE $whens ELSE CAST(7 AS BIGINT) END"
  }

  /** Deterministic Poisson bootstrap of the per-user mean value
    * ([[Stats.poissonBootstrapCi]]): 32 hash-seeded Poisson(1)-weighted
    * replicate means per user, CI = [2nd lowest, 2nd highest]. Raw
    * (unrounded) outputs on bit-identical operands throughout.
    */
  val poissonBootstrap: QueryDef = QueryDef(
    "m21_poisson_bootstrap",
    (s, dir) => {
      Stats.poissonBootstrapCi(t(s, dir, "events"), "user_id", "event_id",
        "value", reps = reps, tailK = tailK)
        .orderBy(col("user_id"))
    },
    Some(s"""WITH base AS (SELECT user_id AS g, event_id AS id,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
      r AS (SELECT g, id, x, t.b FROM base, generate_series(0, ${reps - 1}) t(b)),
      wts AS (SELECT g, b, x, $poissonCaseSql AS w FROM (
        SELECT g, b, x,
          ${Ora.md5LongSql("CONCAT(CAST(id AS VARCHAR), ':', CAST(b AS VARCHAR))")}
            / ${java.lang.Double.toString(1152921504606846976.0)} AS u
        FROM r)),
      rep AS (SELECT g, b, CAST(SUM(w) AS BIGINT) AS wsum,
          CAST(ROUND(SUM(CAST(CAST(w AS DOUBLE) * x AS DECIMAL(27,10))), 6)
            AS DOUBLE) AS wx,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM wts GROUP BY g, b),
      mb AS (SELECT g, b, n, wx / CAST(wsum AS DOUBLE) AS mb
        FROM rep WHERE wsum > 0),
      rk AS (SELECT g, n, b, mb,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY mb, b) AS rn,
          COUNT(*) OVER (PARTITION BY g) AS nreps
        FROM mb)
      SELECT g AS user_id, CAST(MAX(n) AS BIGINT) AS n,
        CAST(MAX(nreps) AS BIGINT) AS n_reps,
        CAST(ROUND(SUM(CAST(mb AS DECIMAL(27,10))), 6) AS DOUBLE)
          / CAST(MAX(nreps) AS DOUBLE) AS boot_mean,
        MAX(CASE WHEN rn = $tailK THEN mb END) AS ci_lo,
        MAX(CASE WHEN rn = nreps - $tailK + 1 THEN mb END) AS ci_hi
      FROM rk GROUP BY g ORDER BY user_id"""))

  /** Split-conformal prediction intervals per user
    * ([[Stats.conformalInterval]]): OLS on the even-event calibration
    * half (x = DAYS since 2024-01-01 — small origin and scale so the x²
    * decimal sums stay within the exactly-castable range), conformal residual quantile at α = 0.1,
    * held-out coverage on the odd half.
    */
  val conformal: QueryDef = QueryDef(
    "m22_conformal_interval",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x",
          (unix_timestamp(col("ts")) - lit(1704067200L)).cast("double") / 86400.0)
        .withColumn("cal", pmod(col("event_id"), lit(2)) === 0)
      Stats.conformalInterval(ev, "user_id", "x", "event_id", "value",
        "cal", alpha = 0.1)
        .orderBy(col("user_id"))
    },
    Some("""WITH base AS (SELECT user_id AS g, event_id AS t,
          CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS DOUBLE)
            / 86400.0 AS x,
          CAST(value AS DOUBLE) AS y, event_id % 2 = 0 AS cal
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
      fit AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ncal,
          CAST(ROUND(SUM(CAST(x AS DECIMAL(27,10))), 6) AS DOUBLE) AS sx,
          CAST(ROUND(SUM(CAST(y AS DECIMAL(27,10))), 6) AS DOUBLE) AS sy,
          CAST(ROUND(SUM(CAST(x * x AS DECIMAL(27,10))), 6) AS DOUBLE) AS sxx,
          CAST(ROUND(SUM(CAST(x * y AS DECIMAL(27,10))), 6) AS DOUBLE) AS sxy,
          MIN(x) AS mnx, MAX(x) AS mxx
        FROM base WHERE cal GROUP BY g),
      m0 AS (SELECT g, ncal, sx, sy,
          CASE WHEN mxx > mnx THEN
            (CAST(ncal AS DOUBLE) * sxy - sx * sy)
              / (CAST(ncal AS DOUBLE) * sxx - sx * sx)
          ELSE 0.0 END AS slope
        FROM fit),
      model AS (SELECT g, ncal, slope,
          (sy - slope * sx) / CAST(ncal AS DOUBLE) AS icept
        FROM m0),
      q AS (SELECT g, r AS q_hat FROM (
          SELECT b.g, m.ncal,
            ABS(b.y - (m.icept + m.slope * b.x)) AS r,
            ROW_NUMBER() OVER (PARTITION BY b.g
              ORDER BY ABS(b.y - (m.icept + m.slope * b.x)), b.t) AS rn
          FROM base b JOIN model m ON b.g = m.g WHERE b.cal)
        WHERE rn = LEAST(CAST(CEIL((1.0 - 0.1)
          * CAST(ncal + 1 AS DOUBLE)) AS BIGINT), ncal)),
      tst AS (SELECT b.g, CAST(COUNT(*) AS BIGINT) AS ntest,
          CAST(SUM(CASE WHEN ABS(b.y - (m.icept + m.slope * b.x)) <= q.q_hat
            THEN 1 ELSE 0 END) AS BIGINT) AS covered
        FROM base b JOIN model m ON b.g = m.g JOIN q ON b.g = q.g
        WHERE NOT b.cal GROUP BY b.g)
      SELECT model.g AS user_id, ncal,
        COALESCE(tst.ntest, 0) AS ntest, q.q_hat,
        CAST(tst.covered AS DOUBLE) / CAST(tst.ntest AS DOUBLE) AS coverage
      FROM model LEFT JOIN q ON model.g = q.g
      LEFT JOIN tst ON model.g = tst.g
      ORDER BY user_id"""))

  private val lam = 0.1

  private val alsIters = 3

  /** md5-uniform init literal text shared with [[Als]]. */
  private def hashUSql(tag: String): String =
    s"""${Ora.md5LongSql(s"CONCAT('$tag', ':', CAST(p AS VARCHAR))")}
        / ${java.lang.Double.toString(1152921504606846976.0)}"""

  /** One ALS ridge half-step as SQL: five fixed-point long sums per
    * `solveKey` joined against `givenName`, then the 2×2 Cramer solve
    * with the det expression inlined — token-identical to
    * [[Als.halfStep]].
    */
  private def halfSql(outName: String, solveKey: String, givenKey: String,
                      givenName: String): String = {
    // the fixed-point long kernel (Als.fx/unfx): floor-quantized 1e-10
    // terms summed as integers — order-independent like a decimal sum,
    // primitive-speed; the inner CAST(... AS BIGINT) pins the exact
    // integer before the (correctly-rounded) int→double conversion
    val fx = (e: String) =>
      s"CAST(CAST(SUM(CAST(FLOOR(($e) * 1.0E10) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1.0E10"
    val det = s"((s.a11 + $lam) * (s.a22 + $lam) - s.a12 * s.a12)"
    s"""${outName}s AS (SELECT $solveKey,
          ${fx("f1 * f1")} AS a11, ${fx("f1 * f2")} AS a12,
          ${fx("f2 * f2")} AS a22,
          ${fx("r * f1")} AS b1, ${fx("r * f2")} AS b2
        FROM ratings JOIN $givenName USING ($givenKey)
        GROUP BY $solveKey),
      $outName AS (SELECT $solveKey,
          ((s.a22 + $lam) * s.b1 - s.a12 * s.b2) / $det AS f1,
          ((s.a11 + $lam) * s.b2 - s.a12 * s.b1) / $det AS f2
        FROM ${outName}s s)"""
  }

  /** Deterministic 2-factor ALS over the customer×part purchase matrix
    * ([[Als.factorize2]]): hash-initialized item factors, 3 alternating
    * closed-form ridge rounds, the item-factor slice under the exact
    * hash gate — matrix-factorization TRAINING as a gated query (the
    * logistic-IRLS / Lloyd-kmeans precedent).
    */
  val alsFactorize: QueryDef = QueryDef(
    "als_factorize_2f",
    (s, dir) => {
      val ratings = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"),
          col("l_quantity").as("qty"))
      val (_, items) = Als.factorize2(ratings, "cust", "part", "qty",
        iters = alsIters, lambda = lam)
      items.filter(pmod(col("p"), lit(97)) === 0)
        .select(col("p"), col("f1"), col("f2"))
        .orderBy(col("p"))
    },
    Some(s"""WITH ratings AS (SELECT o_custkey AS u, l_partkey AS p,
          CAST(l_quantity AS DOUBLE) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity IS NOT NULL
          AND NOT isnan(CAST(l_quantity AS DOUBLE))),
      it0 AS (SELECT p, ${hashUSql("f1")} AS f1, ${hashUSql("f2")} AS f2
        FROM (SELECT DISTINCT p FROM ratings)),
      ${halfSql("us1", "u", "p", "it0")},
      ${halfSql("it1", "p", "u", "us1")},
      ${halfSql("us2", "u", "p", "it1")},
      ${halfSql("it2", "p", "u", "us2")},
      ${halfSql("us3", "u", "p", "it2")},
      ${halfSql("it3", "p", "u", "us3")}
      SELECT p, f1, f2 FROM it3 WHERE p % 97 = 0 ORDER BY p"""))

  val all: Seq[QueryDef] = Seq(
    m2BiasCdf, m5Folds, m6Perfscores, m7Contingency, m1Rf, m11Prepare, m9Intercomparison,
    m6WqAgg, m6EnergyDist, m3Isotonic, m9SkillScores, reliability, aucRoc, calibrationEce,
    gaussianNb, ndcgMatryoshka, logregIrls, huberIrls, pitFeatures, psiDrift, jackknifeCi,
    j10CentroidIso, m1PredictFrozen, pcaPowerIteration, pcaAnomalyTopk, pcaDeflationTop2,
    poissonBootstrap, conformal, alsFactorize)
}
