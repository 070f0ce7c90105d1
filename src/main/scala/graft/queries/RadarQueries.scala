package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Core
import graft.functions.Phys
import graft.operators.{Agg, AsOf, Relational}

/** Radar-physics queries: the rainforest functions (attenuation
  * correction, Z-R conversion, CH1903 geometry, DN decode, masks) and the
  * grid aggregates and lookup joins of the QPE chain.
  */
object RadarQueries {

  import graft.Ora._

  /** P8: physics-constraint compound filter (shape of ml/rf.py:411-420). */
  val p8Constraint: QueryDef = QueryDef(
    "p8_physics_constraint",
    (s, dir) => Relational.physicsConstraint(
        t(s, dir, "lineitem"),
        !(($"l_quantity" > 40.0) && ($"l_extendedprice" < 20000.0)) &&
        !(($"l_quantity" < 5.0) && ($"l_extendedprice" > 80000.0)))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum6($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag"),
    Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${dsum6Sql("l_quantity")} AS sum_qty
      FROM lineitem
      WHERE NOT (l_quantity > 40.0 AND l_extendedprice < 20000.0)
        AND NOT (l_quantity < 5.0 AND l_extendedprice > 80000.0)
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A1: wet-period filter — keep (user, hour) groups over a sum threshold. */
  val a1WetHour: QueryDef = QueryDef(
    "a1_wet_hour",
    (s, dir) => Relational.wetPeriodFilter(
        t(s, dir, "events"), "user_id", "ts", "value", 200.0)
      .groupBy($"user_id", Phys.floorToCadence(epochS($"ts"), 3600L).as("hour_e"))
      .agg(count(lit(1)).as("n"), dsum6($"value").as("sum_value"))
      .orderBy($"user_id", $"hour_e"),
    Some(s"""SELECT user_id, (${epochSql("ts")} - ${epochSql("ts")} % 3600) AS hour_e,
      COUNT(*) AS n, ${dsum6Sql("value")} AS sum_value
      FROM events GROUP BY 1, 2 HAVING SUM(value) >= 200.0
      ORDER BY user_id, hour_e"""))

  /** A2/W2: full-period filter — groups with exactly n rows, via window count. */
  val a2FullHour: QueryDef = QueryDef(
    "a2_full_hour",
    (s, dir) => Relational.fullPeriodFilter(
        t(s, dir, "events"), "user_id", "ts", 2L)
      .groupBy($"user_id", Phys.floorToCadence(epochS($"ts"), 3600L).as("hour_e"))
      .agg(count(lit(1)).as("n"), dsum6($"value").as("sum_value"))
      .orderBy($"user_id", $"hour_e"),
    Some(s"""SELECT user_id, (${epochSql("ts")} - ${epochSql("ts")} % 3600) AS hour_e,
      COUNT(*) AS n, ${dsum6Sql("value")} AS sum_value
      FROM events GROUP BY 1, 2 HAVING COUNT(*) = 2
      ORDER BY user_id, hour_e"""))

  /** A3: vertical aggregation — weighted means + weighted one-hot proportions
    * of a categorical column, one shuffle.
    */
  val a3VertAgg: QueryDef = QueryDef(
    "a3_vert_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = $"l_quantity"
      li.groupBy($"l_returnflag").agg(
          r6(dsum($"l_extendedprice" * w) / dsum(w)).as("wmean_price"),
          r6(dsum(when($"l_linestatus" === "F", w).otherwise(0.0)) / dsum(w)).as("prop_F"),
          r6(dsum(when($"l_linestatus" === "O", w).otherwise(0.0)) / dsum(w)).as("prop_O"))
        .orderBy($"l_returnflag")
    },
    Some(s"""SELECT l_returnflag,
      ROUND(${dsumSql("l_extendedprice * l_quantity")} / ${dsumSql("l_quantity")}, 6) AS wmean_price,
      ROUND(${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END")} / ${dsumSql("l_quantity")}, 6) AS prop_F,
      ROUND(${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END")} / ${dsumSql("l_quantity")}, 6) AS prop_O
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A6: scatter-add grid aggregation — sum/count/mean/any-valid per cell
    * (same plan shape as Agg.gridScatterAgg, with decimal-exact internals for
    * the oracle hash).
    */
  val a6GridScatter: QueryDef = QueryDef(
    "a6_grid_scatter",
    (s, dir) => t(s, dir, "events")
      .withColumn("x", ($"user_id" % 16).cast("int"))
      .withColumn("y", ($"event_id" % 7).cast("int"))
      .withColumn("v", when($"value" > 10.0, $"value"))
      .groupBy($"x", $"y")
      .agg(dsum6($"v").as("sum_v"),
           count($"v").as("n_v"),
           r6(dsum($"v") / count($"v")).as("mean_v"),
           max($"v".isNotNull).as("any_valid"))
      .orderBy($"x", $"y"),
    Some(s"""SELECT CAST(user_id % 16 AS INT) AS x, CAST(event_id % 7 AS INT) AS y,
      ${dsum6Sql("CASE WHEN value > 10.0 THEN value END")} AS sum_v,
      COUNT(CASE WHEN value > 10.0 THEN value END) AS n_v,
      ROUND(${dsumSql("CASE WHEN value > 10.0 THEN value END")} / COUNT(CASE WHEN value > 10.0 THEN value END), 6) AS mean_v,
      MAX(value > 10.0) AS any_valid
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** J8: temporal interpolation join — hourly anchor values linearly
    * interpolated to each point's timestamp.
    */
  val j8Interp: QueryDef = QueryDef(
    "j8_interp_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val hourly = e
        .groupBy($"user_id",
          Phys.floorToCadence(epochS($"ts"), 3600L).as("hour_e"))
        .agg(dsum($"value").as("hv"))
      val points = e.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"ts")
      AsOf.interpolateJoin(points, hourly, "user_id", "ts", "hour_e", "hv")
        .select($"event_id", $"user_id", r6($"hv_interp").as("hv_interp"))
        .orderBy($"event_id")
    },
    Some(s"""WITH hourly AS (
        SELECT user_id, (${epochSql("ts")} - ${epochSql("ts")} % 3600) AS hour_e,
               ${dsumSql("value")} AS hv
        FROM events GROUP BY 1, 2),
      pts AS (SELECT event_id, user_id, ${epochSql("ts")} AS e
              FROM events WHERE event_type = 'view')
      SELECT p.event_id, p.user_id,
        ROUND(CASE WHEN h0.hv IS NOT NULL AND h1.hv IS NOT NULL
                   THEN h0.hv * (1.0 - (p.e - (p.e - p.e % 3600)) / 3600.0)
                        + h1.hv * ((p.e - (p.e - p.e % 3600)) / 3600.0)
                   ELSE COALESCE(h0.hv, h1.hv) END, 6) AS hv_interp
      FROM pts p
      LEFT JOIN hourly h0 ON p.user_id = h0.user_id AND h0.hour_e = p.e - p.e % 3600
      LEFT JOIN hourly h1 ON p.user_id = h1.user_id AND h1.hour_e = p.e - p.e % 3600 + 3600
      ORDER BY p.event_id"""))

  /** O4/S13: searchsorted DN-encode against a sorted boundary scale. */
  val o4SearchSorted: QueryDef = QueryDef(
    "o4_searchsorted",
    (s, dir) => t(s, dir, "events")
      .withColumn("dn", Phys.searchSorted($"value", Seq(10.0, 25.0, 50.0, 100.0, 150.0)))
      .groupBy($"dn")
      .agg(count(lit(1)).as("n"), dsum6($"value").as("sum_value"))
      .orderBy($"dn"),
    Some(s"""SELECT (CASE WHEN value >= 10.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 25.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 50.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 100.0 THEN 1 ELSE 0 END
        + CASE WHEN value >= 150.0 THEN 1 ELSE 0 END) AS dn,
      COUNT(*) AS n, ${dsum6Sql("value")} AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** F7: Kochendorfer catch-efficiency wind adjustment (regime-split CE).
    * The compared aggregate is the per-group MEAN, not the sum: EXP differs
    * between the JVM and libm by 1 ULP on some inputs, and under a SUM those
    * per-row discrepancies ACCUMULATE linearly with row count (measured
    * 2e-6 on the exact decimal sum at sf0.1 — past any rounding). Under a
    * mean they shrink with the divisor, so the comparison is scale-stable.
    */
  val f7CatchEff: QueryDef = QueryDef(
    "f7_catch_efficiency",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val temp = $"l_discount" * 100.0 - 5.0
      val wind = $"l_quantity" / 5.0
      val adj = Phys.windAdjustedPrecip($"l_extendedprice", temp, wind)
      li.groupBy($"l_returnflag")
        .agg(r6(dsum(adj) / count(lit(1))).as("mean_adj"),
             count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },
    Some(s"""SELECT l_returnflag,
      ROUND(${dsumSql("""l_extendedprice / (CASE
        WHEN (l_discount * 100.0 - 5.0) < -2.0
          THEN 0.865 * EXP(-0.298 * LEAST(l_quantity / 5.0, 9.0)) + 0.225
        WHEN (l_discount * 100.0 - 5.0) <= 2.0
          THEN 0.624 * EXP(-0.185 * LEAST(l_quantity / 5.0, 9.0)) + 0.364
        ELSE 1.0 END)""")} / COUNT(*), 6) AS mean_adj,
      COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** F13: regex field extraction from a string payload. */
  val f13Regexp: QueryDef = QueryDef(
    "f13_regexp_extract",
    (s, dir) => t(s, dir, "events")
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast("int"))
      .groupBy(($"k" % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      .orderBy($"k_mod"),
    Some("""SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) % 10 AS k_mod,
      COUNT(*) AS n,
      CAST(SUM(CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)) AS BIGINT) AS sum_k
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** F15/F17: WGS84→CH1903 polynomial transform + planar distance. */
  val f15Ch1903: QueryDef = QueryDef(
    "f15_ch1903_dist",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val lon = lit(6.0) + ($"c_custkey" % 100) / 50.0
      val lat = lit(46.0) + ($"c_custkey" % 50) / 50.0
      val (east, north) = Phys.wgs84ToCh1903(lon, lat)
      c.select($"c_custkey",
          round(east, 4).as("east"),
          round(north, 4).as("north"),
          r6(Phys.distKm(east, north, 600000.0, 200000.0)).as("dist_km"))
        .orderBy($"c_custkey")
    },
    Some("""WITH g AS (SELECT c_custkey,
        ((46.0 + (c_custkey % 50) / 50.0) * 3600.0 - 169028.66) / 10000.0 AS phi,
        ((6.0 + (c_custkey % 100) / 50.0) * 3600.0 - 26782.5) / 10000.0 AS lam
        FROM customer),
      xy AS (SELECT c_custkey,
        600072.37 + 211455.93 * lam - 10938.51 * lam * phi
          - 0.36 * lam * phi * phi - 44.54 * lam * lam * lam AS east,
        200147.07 + 308807.95 * phi + 3745.25 * lam * lam
          + 76.63 * phi * phi - 194.56 * lam * lam * phi
          + 119.79 * phi * phi * phi AS north
        FROM g)
      SELECT c_custkey, ROUND(east, 4) AS east, ROUND(north, 4) AS north,
        ROUND(SQRT(POW(east - 600000.0, 2.0) + POW(north - 200000.0, 2.0)) / 1000.0, 6) AS dist_km
      FROM xy ORDER BY c_custkey"""))

  /** F15 rest: CH1903→WGS84 inverse polynomial + COSMO rotated-pole
    * transform and its exact inverse (pollat=43, pollon=−170, the
    * MeteoSwiss COSMO-1 rotation). Every trig constant is pre-folded in
    * Scala and interpolated into the SQL so both engines evaluate the
    * identical expression tree; `+ 0.0` after ROUND normalizes the sign of
    * zero (rlat crosses 0 inside the Swiss domain).
    */
  val f15Inverse: QueryDef = {
    val sp = math.sin(math.toRadians(43.0))
    val cp = math.cos(math.toRadians(43.0))
    QueryDef(
      "f15_inverse_rotated",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val lon = lit(6.0) + ($"c_custkey" % 100) / 50.0
        val lat = lit(46.0) + ($"c_custkey" % 50) / 50.0
        val (east, north) = Phys.wgs84ToCh1903(lon, lat)
        val (lon2, lat2) = Phys.ch1903ToWgs84(east, north)
        val (rlon, rlat) = Phys.geoToRotatedPole(lon, lat, 43.0, -170.0)
        val (lonRt, latRt) = Phys.rotatedPoleToGeo(rlon, rlat, 43.0, -170.0)
        c.select($"c_custkey",
            (r6(lon2) + 0.0).as("lon2"), (r6(lat2) + 0.0).as("lat2"),
            (r6(rlon) + 0.0).as("rlon"), (r6(rlat) + 0.0).as("rlat"),
            (r6(lonRt) + 0.0).as("lon_rt"), (r6(latRt) + 0.0).as("lat_rt"))
          .orderBy($"c_custkey")
      },
      Some(s"""WITH g AS (SELECT c_custkey,
          6.0 + (c_custkey % 100) / 50.0 AS lon,
          46.0 + (c_custkey % 50) / 50.0 AS lat
        FROM customer),
      aux AS (SELECT *, (lat * 3600.0 - 169028.66) / 10000.0 AS phi,
          (lon * 3600.0 - 26782.5) / 10000.0 AS lam FROM g),
      ch AS (SELECT *,
          600072.37 + 211455.93 * lam - 10938.51 * lam * phi
            - 0.36 * lam * phi * phi - 44.54 * lam * lam * lam AS east,
          200147.07 + 308807.95 * phi + 3745.25 * lam * lam
            + 76.63 * phi * phi - 194.56 * lam * lam * phi
            + 119.79 * phi * phi * phi AS north
        FROM aux),
      inv AS (SELECT *, (east - 600000.0) / 1000000.0 AS yy,
          (north - 200000.0) / 1000000.0 AS xx FROM ch),
      wgs AS (SELECT *,
          (2.6779094 + 4.728982 * yy + 0.791484 * yy * xx
            + 0.1306 * yy * xx * xx - 0.0436 * yy * yy * yy) * 10000.0 / 3600.0 AS lon2,
          (16.9023892 + 3.238272 * xx - 0.270978 * yy * yy
            - 0.002528 * xx * xx - 0.0447 * yy * yy * xx
            - 0.0140 * xx * xx * xx) * 10000.0 / 3600.0 AS lat2
        FROM inv),
      rr AS (SELECT *, RADIANS(lon - -170.0) AS rl, RADIANS(lat) AS rp FROM wgs),
      rot AS (SELECT *,
          DEGREES(ATAN2(-COS(rp) * SIN(rl),
            -($sp * COS(rp) * COS(rl) - $cp * SIN(rp)))) AS rlon,
          DEGREES(ASIN($cp * COS(rp) * COS(rl) + $sp * SIN(rp))) AS rlat
        FROM rr),
      bk AS (SELECT *, RADIANS(rlat) AS brp, RADIANS(rlon) AS brl FROM rot),
      back AS (SELECT *,
          ((-170.0 + DEGREES(ATAN2(-COS(brp) * SIN(brl),
            $sp * (-COS(brp) * COS(brl)) + $cp * SIN(brp)))
            + 180.0) % 360.0 + 360.0) % 360.0 - 180.0 AS lon_rt,
          DEGREES(ASIN(-($cp) * (-COS(brp) * COS(brl)) + $sp * SIN(brp))) AS lat_rt
        FROM bk)
      SELECT c_custkey,
        ROUND(lon2, 6) + 0.0 AS lon2, ROUND(lat2, 6) + 0.0 AS lat2,
        ROUND(rlon, 6) + 0.0 AS rlon, ROUND(rlat, 6) + 0.0 AS rlat,
        ROUND(lon_rt, 6) + 0.0 AS lon_rt, ROUND(lat_rt, 6) + 0.0 AS lat_rt
      FROM back ORDER BY c_custkey"""))
  }

  /** F16/F1: Z-R proxy rain-rate inversion over dB-domain input. */
  val f16Zr: QueryDef = QueryDef(
    "f16_zr_proxy",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(dsum6(Phys.zrProxy(Phys.dbToLin($"l_quantity"))).as("sum_rproxy"),
           count(lit(1)).as("n"))
      .orderBy($"l_returnflag"),
    Some(s"""SELECT l_returnflag,
      ${dsum6Sql("POW(POW(10.0, l_quantity * 0.1) / 316.0, 1.0 / 1.5)")} AS sum_rproxy,
      COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** F20: MODE with a deterministic tie-break (count desc, value asc) —
    * the reference guards all-NaN groups (constants.py:298-302); built-in
    * `mode()` is tie-nondeterministic, so the rank construction is used.
    */
  val f20Mode: QueryDef = QueryDef(
    "f20_mode",
    (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("user_id"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_type"), col("user_id").as("modal_user"), col("n"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, user_id AS modal_user, n FROM (
        SELECT event_type, user_id, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY COUNT(*) DESC, user_id) AS rn
        FROM events GROUP BY event_type, user_id)
      WHERE rn = 1 ORDER BY event_type"""))

  /** F9/F10/P11: derived physics columns — iso height from the lapse rate,
    * clamped height-above-ground, minutes-in-hour, validity-floor clamp.
    */
  val f9Derived: QueryDef = QueryDef(
    "f9_derived_columns",
    (s, dir) => {
      val e = t(s, dir, "events")
      val temp = $"value" / 20.0 - 5.0
      // `+ 0.0` after round: IEEE -0.0 + 0.0 = +0.0, so both engines agree on
      // the sign of zero (DuckDB keeps -0.0 through ROUND, Spark's BigDecimal
      // round does not — one sf0.01 row hits value=100.0 → temp=0 → hiso=-0.0)
      e.select($"event_id",
          (r6(Phys.isoHeight(temp)) + 0.0).as("hiso"),
          r6(Phys.heightAboveGround($"value" * 10.0, lit(500.0))).as("hag"),
          r6((epochS($"ts") % 3600) / 60.0).as("min_in_hour"),
          r6(Phys.clampBelow($"value" / 1000.0, 0.04)).as("clamped"))
        .orderBy($"event_id")
    },
    Some(s"""SELECT event_id,
      ROUND(-(value / 20.0 - 5.0) / 0.7 * 100.0, 6) + 0.0 AS hiso,
      ROUND(GREATEST(0.0, value * 10.0 - 500.0), 6) AS hag,
      ROUND((${epochSql("ts")} % 3600) / 60.0, 6) AS min_in_hour,
      ROUND(CASE WHEN value / 1000.0 < 0.04 THEN 0.0 ELSE value / 1000.0 END, 6) AS clamped
      FROM events ORDER BY event_id"""))

  /** S8/S13: DN byte ↔ physical value decode through a scale array. */
  val s8DnDecode: QueryDef = {
    val scale = (0 until 10).map(i => i * 0.5)
    QueryDef(
      "s8_dn_decode",
      (s, dir) => t(s, dir, "events")
        .withColumn("dn", least(floor($"value" / 20.0).cast("int"), lit(9)))
        .withColumn("decoded", Phys.dnDecode($"dn", scale))
        .groupBy($"dn", $"decoded")
        .agg(count(lit(1)).as("n"))
        .orderBy($"dn"),
      Some(s"""SELECT dn, ([${scale.mkString(", ")}])[dn + 1] AS decoded, COUNT(*) AS n
        FROM (SELECT LEAST(CAST(FLOOR(value / 20.0) AS INT), 9) AS dn FROM events)
        GROUP BY dn ORDER BY dn"""))
  }

  /** S9/W4: distributed (2k+1)² neighborhood statistics over a sparse grid —
    * the scatter-join pattern of Grid.boxStats with decimal-exact internals
    * (the scale path for the reference's 3×3 wet-radome mean and 7×7 outlier
    * window when the grid doesn't fit one node).
    */
  val w4BoxStats: QueryDef = QueryDef(
    "w4_box_stats",
    (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(($"user_id" % 16).cast("int").as("chx"),
                 ($"event_id" % 7).cast("int").as("chy"))
        .agg(dsum6($"value").as("v"))
      val off = lit((-1 to 1).toArray)
      val n = count($"v")
      val sx = dsum($"v")
      // v carries 6 decimals, so v*v needs up to 12 — a 10-decimal accumulator
      // rounds it and the near-zero variance subtraction amplifies the
      // boundary-rounding difference between engines; 14 decimals is exact
      val sxx = dsum14($"v" * $"v")
      cells
        .withColumn("dx", explode(off))
        .withColumn("dy", explode(off))
        .groupBy(($"chx" + $"dx").as("chx"), ($"chy" + $"dy").as("chy"))
        .agg(r6(sx / n).as("box_mean"),
             r6(sqrt(greatest(lit(0.0), (sxx - sx * sx / n) / n))).as("box_std"),
             n.as("box_n"))
        .orderBy($"chx", $"chy")
    },
    Some(s"""WITH cells AS (
        SELECT CAST(user_id % 16 AS INT) AS chx, CAST(event_id % 7 AS INT) AS chy,
               ${dsum6Sql("value")} AS v
        FROM events GROUP BY 1, 2),
      scattered AS (
        SELECT c.chx + dx.g AS chx, c.chy + dy.g AS chy, c.v
        FROM cells c
        CROSS JOIN generate_series(-1, 1) dx(g)
        CROSS JOIN generate_series(-1, 1) dy(g))
      SELECT chx, chy,
        ROUND(${dsumSql("v")} / COUNT(v), 6) AS box_mean,
        ROUND(SQRT(GREATEST(0.0, (CAST(SUM(CAST((v * v) AS DECIMAL(32,14))) AS DOUBLE) - ${dsumSql("v")} * ${dsumSql("v")} / COUNT(v)) / COUNT(v))), 6) AS box_std,
        COUNT(v) AS box_n
      FROM scattered GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** W5: distributed separable NaN-aware Gaussian smoothing over the same
    * sparse cell grid as w4 — Grid.gaussianSmoothCells (scatter + semi-join
    * per axis), previously spec-only. The tap weights are Scala double
    * literals embedded verbatim in the mirror, and every accumulation is
    * decimal, so the hash gate sees bit-identical values.
    */
  val w5Gauss: QueryDef = {
    val sigma = 0.5
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val taps = (-radius to radius).map(d =>
      d -> math.exp(-0.5 * math.pow(d / sigma, 2)))
    val tapValues = taps.map { case (d, w) => s"($d, $w)" }.mkString(", ")
    def passSql(src: String, onX: Boolean): String = {
      val (tx, ty) = if (onX) ("s.chx + t.d", "s.chy") else ("s.chx", "s.chy + t.d")
      s"""SELECT chx, chy, v FROM (
           SELECT $tx AS chx, $ty AS chy,
             CAST(SUM(CAST(s.v * t.w AS DECIMAL(32,14))) AS DOUBLE)
             / CAST(SUM(CAST(t.w AS DECIMAL(22,16))) AS DOUBLE) AS v,
             MAX(CASE WHEN t.d = 0 THEN 1 ELSE 0 END) AS orig
           FROM $src s CROSS JOIN taps t GROUP BY 1, 2)
           WHERE orig = 1"""
    }
    QueryDef(
      "w5_gauss_smooth",
      (s, dir) => {
        val cells = t(s, dir, "events")
          .groupBy(($"user_id" % 16).cast("int").as("chx"),
                   ($"event_id" % 7).cast("int").as("chy"))
          .agg(dsum6($"value").as("v"))
        graft.qpe.Grid.gaussianSmoothCells(cells, sigma)
          .select($"chx", $"chy", r6($"v").as("smoothed"))
          .orderBy($"chx", $"chy")
      },
      Some(s"""WITH cells AS (
          SELECT * FROM (
            SELECT CAST(user_id % 16 AS INT) AS chx, CAST(event_id % 7 AS INT) AS chy,
                   ${dsum6Sql("value")} AS v
            FROM events GROUP BY 1, 2)
          -- mirror of gaussianSmoothCells' NULL/NaN-cell pre-filter: an
          -- invalid cell must not scatter tap weight into neighbours
          WHERE v IS NOT NULL AND NOT isnan(v)),
        taps(d, w) AS (VALUES $tapValues),
        p1 AS (${passSql("cells", onX = true)}),
        p2 AS (${passSql("p1", onX = false)})
        SELECT chx, chy, ROUND(v, 6) AS smoothed FROM p2 ORDER BY chx, chy"""))
  }

  /** A9: weighted accumulation across sweeps — Agg.weightedAccumulate over
    * three event-id-split parts (exercising the union path; the union of
    * the parts is exactly the events table, which is what the mirror
    * reads), previously spec-only. Weights are a deterministic per-row
    * harmonic bucket; sums are decimal-exact end to end.
    */
  val a9Weighted: QueryDef = QueryDef(
    "a9_weighted_accumulate",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        ($"user_id" % 16).cast("int").as("cx"),
        ($"value" / 1000.0).as("v"),
        (lit(1.0) / (lit(1L) + $"event_id" % 5)).as("w"),
        ($"event_id" % 3).as("sweep"))
      val parts = (0 until 3).map(i => ev.filter($"sweep" === i).drop("sweep"))
      // estimate emitted UNROUNDED: it divides two 6-dp-decimal sums that
      // are bit-identical doubles on both engines, so the raw ratio is
      // already deterministic — while a final ROUND would sit on exact
      // half boundaries whenever the ratio terminates (sum_w is often an
      // integer), where Spark (shortest-repr HALF_UP) and DuckDB (binary
      // value) legitimately disagree
      graft.operators.Agg.weightedAccumulate(parts, Seq("cx"), "v", "w")
        .select($"cx", $"sum_vw", $"sum_w", $"estimate")
        .orderBy($"cx")
    },
    Some("""WITH src AS (
        SELECT * FROM (
          SELECT CAST(user_id % 16 AS INT) AS cx, value / 1000.0 AS v,
                 CAST(1.0 AS DOUBLE) / (1 + event_id % 5) AS w
          FROM events)
        -- mirror of weightedAccumulate's valid-contribution filter
        WHERE v IS NOT NULL AND NOT isnan(v) AND w IS NOT NULL AND NOT isnan(w))
      -- sums round in DECIMAL space before the double cast (dsum6 rule):
      -- the raw scale-14 sum's unscaled value passes 2^53 and DuckDB's
      -- decimal->double cast double-rounds there
      SELECT cx,
        CAST(ROUND(SUM(CAST(v * w AS DECIMAL(32,14))), 6) AS DOUBLE) AS sum_vw,
        CAST(ROUND(SUM(CAST(w AS DECIMAL(32,14))), 6) AS DOUBLE) AS sum_w,
        CAST(ROUND(SUM(CAST(v * w AS DECIMAL(32,14))), 6) AS DOUBLE)
          / CAST(ROUND(SUM(CAST(w AS DECIMAL(32,14))), 6) AS DOUBLE) AS estimate
      FROM src GROUP BY cx ORDER BY cx"""))

  /** J5/J6/J9: the polar→Cartesian LUT broadcast join + grid gather,
    * previously spec-only. The LUT here is integer-derived (the trig
    * geometry is separately oracle-gated via f15_*; what J5/J6/J9 add is
    * the JOIN mechanics: broadcast the coefficient-sized LUT, inner-join
    * membership — gates outside the partial LUT drop, the J9 COSMO
    * membership shape — then one keyed accumulation into cells). Mirror
    * builds the identical LUT from generate_series; all sums decimal.
    */
  val j5LutGather: QueryDef = QueryDef(
    "j5_lut_gather",
    (s, dir) => {
      // LUT: id → (sweep, az_idx, rng_idx) with rng_idx < 80 only (partial
      // coverage: membership filter), cell + weight from integer arithmetic
      val lut = s.range(3L * 360 * 100).selectExpr(
        "CAST(id % 3 AS INT) AS sweep",
        "CAST((id DIV 3) % 360 AS INT) AS az_idx",
        "CAST(id DIV 1080 AS INT) AS rng_idx")
        .filter($"rng_idx" < 80)
        .selectExpr("sweep", "az_idx", "rng_idx",
          "(az_idx * 7 + rng_idx * 3 + sweep * 11) % 64 AS chx",
          "(az_idx * 5 + rng_idx * 13 + sweep * 3) % 48 AS chy",
          "CAST(1.0 AS DOUBLE) / (1 + sweep) AS w")
      val polar = t(s, dir, "events").selectExpr(
        "CAST(event_id % 3 AS INT) AS sweep",
        "CAST(user_id % 360 AS INT) AS az_idx",
        "CAST((event_id DIV 3) % 100 AS INT) AS rng_idx",
        "value / 100.0 AS v")
      // value emitted UNROUNDED (the a9 rationale: bit-identical 6-dp
      // operands make the raw ratio deterministic; a final ROUND sits on
      // exact half boundaries whenever the ratio terminates)
      graft.qpe.Grid.accumulate(
          graft.qpe.Grid.lutJoin(polar, lut).select($"chx", $"chy", $"v", $"w"))
        .select($"chx", $"chy", $"value")
        .orderBy($"chx", $"chy")
    },
    Some("""WITH lut AS (
        SELECT sweep, az_idx, rng_idx,
               (az_idx * 7 + rng_idx * 3 + sweep * 11) % 64 AS chx,
               (az_idx * 5 + rng_idx * 13 + sweep * 3) % 48 AS chy,
               CAST(1.0 AS DOUBLE) / (1 + sweep) AS w
        FROM (SELECT CAST(g.generate_series % 3 AS INT) AS sweep,
                     CAST((g.generate_series // 3) % 360 AS INT) AS az_idx,
                     CAST(g.generate_series // 1080 AS INT) AS rng_idx
              FROM generate_series(0, 107999) g)
        WHERE rng_idx < 80),
      polar AS (
        SELECT * FROM (
          SELECT CAST(event_id % 3 AS INT) AS sweep,
                 CAST(user_id % 360 AS INT) AS az_idx,
                 CAST((event_id // 3) % 100 AS INT) AS rng_idx,
                 value / 100.0 AS v
          FROM events)
        -- mirror of Grid.accumulate's valid-contribution filter (w is a
        -- LUT constant, never NULL/NaN)
        WHERE v IS NOT NULL AND NOT isnan(v))
      SELECT chx, chy,
        CAST(ROUND(SUM(CAST(v * w AS DECIMAL(32,14))), 6) AS DOUBLE)
          / CAST(ROUND(SUM(CAST(w AS DECIMAL(32,14))), 6) AS DOUBLE) AS value
      FROM polar JOIN lut USING (sweep, az_idx, rng_idx)
      GROUP BY chx, chy ORDER BY chx, chy"""))

  private val B = 0.64884

  private val Alpha = 0.08

  private val Dr = 0.5

  // pre-folded scalar constants, embedded identically in both engines
  private val Cz = 0.1 * B          // zb exponent coefficient

  private val Ca = 0.1 * B * Alpha  // C exponent coefficient

  private val Ci = 0.46 * B * Dr    // integral step weight

  private val C2 = 2.0 * Dr         // two-way PIA step

  val f6Zphi: QueryDef = QueryDef(
    "f6_zphi_attenuation",
    (s, dir) => {
      val byRay = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val base = Core.table(s, dir, "events")
        .withColumn("rng", row_number().over(byRay))
        .select(col("user_id"), col("rng"),
                (col("value") / 10.0).as("zh"),
                (col("value") / 200.0).as("dphi_step"))
      val cum = Window.partitionBy(col("user_id")).orderBy(col("rng"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val full = Window.partitionBy(col("user_id")).orderBy(col("rng"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val withPhi = base.withColumn("phidp", dsumOver(col("dphi_step"), cum))
      val withZb = withPhi.withColumn("z_b", pow(lit(10.0), col("zh") * Cz))
      val staged = withZb
        .withColumn("itot", dsumOver(col("z_b"), full) * Ci)
        .withColumn("icum", dsumOver(col("z_b"), cum) * Ci)
        .withColumn("p0", first(col("phidp")).over(full))
        .withColumn("pm", last(col("phidp")).over(full))
        .withColumn("c", pow(lit(10.0), (col("pm") - col("p0")) * Ca) - 1.0)
        .withColumn("iend", col("itot") - col("icum") + col("z_b") * Ci)
        .withColumn("ah",
          when(col("c") > 0 && col("itot") > 0,
            col("z_b") * col("c") / (col("itot") + col("c") * col("iend")))
            .otherwise(lit(0.0)))
      staged
        .withColumn("pia", dsumOver(col("ah"), cum) * C2)
        .select(col("user_id"), col("rng"), round(col("ah"), 6).as("ah"),
                round(col("pia"), 6).as("pia"),
                round(col("zh") + col("pia"), 6).as("zh_corr"))
        .orderBy(col("user_id"), col("rng"))
    },
    Some(s"""WITH base AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rng,
               value / 10.0 AS zh, value / 200.0 AS dphi_step
        FROM events),
      phi AS (SELECT *, CAST(SUM(CAST(dphi_step AS DECIMAL(27,10)))
               OVER cum AS DOUBLE) AS phidp
              FROM base
              WINDOW cum AS (PARTITION BY user_id ORDER BY rng ROWS UNBOUNDED PRECEDING)),
      zb AS (SELECT *, POW(10.0, zh * $Cz) AS z_b FROM phi),
      sums AS (SELECT *,
        CAST(SUM(CAST(z_b AS DECIMAL(27,10))) OVER ray AS DOUBLE) * $Ci AS itot,
        CAST(SUM(CAST(z_b AS DECIMAL(27,10))) OVER cum AS DOUBLE) * $Ci AS icum,
        FIRST_VALUE(phidp) OVER ray AS p0,
        LAST_VALUE(phidp) OVER ray AS pm
        FROM zb
        WINDOW ray AS (PARTITION BY user_id ORDER BY rng
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
               cum AS (PARTITION BY user_id ORDER BY rng ROWS UNBOUNDED PRECEDING)),
      ahs AS (SELECT *,
        POW(10.0, (pm - p0) * $Ca) - 1.0 AS c,
        itot - icum + z_b * $Ci AS iend
        FROM sums),
      ah2 AS (SELECT user_id, rng, zh,
        CASE WHEN c > 0 AND itot > 0
             THEN z_b * c / (itot + c * iend) ELSE 0.0 END AS ah
        FROM ahs)
      SELECT user_id, rng, ROUND(ah, 6) AS ah,
        ROUND(CAST(SUM(CAST(ah AS DECIMAL(27,10)))
          OVER (PARTITION BY user_id ORDER BY rng ROWS UNBOUNDED PRECEDING)
          AS DOUBLE) * $C2, 6) AS pia,
        ROUND(zh + CAST(SUM(CAST(ah AS DECIMAL(27,10)))
          OVER (PARTITION BY user_id ORDER BY rng ROWS UNBOUNDED PRECEDING)
          AS DOUBLE) * $C2, 6) AS zh_corr
      FROM ah2 ORDER BY user_id, rng"""))

  /** F3/F4/F5 under the hash gate: the radar mask chain
    * (noisedBZ range-dependent floor → snrMask → visibCorrect) on
    * lineitem-derived proxies, previously spec-only — including the NULL
    * floor at range ≤ 0 now masking the gate.
    */
  val f3MaskChain: QueryDef = QueryDef(
    "f3_mask_chain",
    (s, dir) => {
      val d = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 4000.0 - 10000.0).as("r_m"),     // some ≤ 0
        (col("l_extendedprice") / 2000.0).as("zh"),
        (col("l_discount") * 1000.0).as("visib"))             // 0..100
      val noise = Phys.noisedBZ(col("r_m"), lit(-31.0))
      val masked = Phys.snrMask(col("zh"), noise, 23.0)
      // NO round(,6) on zh_vis: the chain is pure IEEE ops on identical
      // inputs, so the raw doubles already match bit-for-bit — rounding
      // would REINTRODUCE engine skew (Spark rounds the exact binary
      // expansion, DuckDB the scaled multiply; 224 rows landed on ties)
      d.select(col("l_orderkey"), col("l_linenumber"),
          masked.as("zh_snr"),
          Phys.visibCorrect(masked, col("visib"), 40.0, 1.5).as("zh_vis"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""WITH v AS (SELECT l_orderkey, l_linenumber,
        l_quantity * 4000.0 - 10000.0 AS r_m,
        l_extendedprice / 2000.0 AS zh,
        l_discount * 1000.0 AS visib
      FROM lineitem),
      n AS (SELECT *, CASE WHEN r_m > 0.0
          THEN -31.0 + LOG10(r_m / 1000.0 / 100.0) * 20.0 END AS noise
        FROM v),
      m AS (SELECT *, CASE WHEN noise IS NULL OR zh - noise < 23.0
          THEN NULL ELSE zh END AS zh_snr
        FROM n)
      SELECT l_orderkey, l_linenumber, zh_snr,
        CASE WHEN visib < 40.0 THEN NULL
          ELSE zh_snr * LEAST(100.0 / visib, 1.5) END AS zh_vis
      FROM m ORDER BY l_orderkey, l_linenumber"""))

  /** JSON property extraction + downstream aggregation: the semi-
    * structured scalar family (events.props is a JSON document) —
    * get_json_object stays inside codegen, and the extracted value feeds
    * a decimal-accumulated rollup like any native column.
    */
  val jsonExtract: QueryDef = QueryDef(
    "f21_json_extract",
    (s, dir) => t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
        COUNT(CAST(props->>'$.k' AS INT)) AS n,
        CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
        MAX(CAST(props->>'$.k' AS INT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[QueryDef] = Seq(
    p8Constraint, a1WetHour, a2FullHour, a3VertAgg, a6GridScatter, j8Interp,
    o4SearchSorted, f7CatchEff, f13Regexp, f15Ch1903, f15Inverse, f16Zr, f20Mode,
    f9Derived, s8DnDecode, w4BoxStats, w5Gauss, a9Weighted, j5LutGather, f6Zphi,
    f3MaskChain, jsonExtract)
}
