package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Coreset, Curation}
import graft.operators.{Behavior, Relational, Stats, Windows}

/** Statistics and behaviour queries: user-journey analytics (funnels,
  * cohorts, stickiness, attribution, process mining), data-quality
  * profiles, sampling designs, time-series diagnostics and tests.
  */
object StatsQueries {

  import graft.Ora._

  /** DuckDB mirror of Curation.sampleBucket. */
  private def bucketSql(idExpr: String, salt: String): String =
    s"${md5LongSql(s"CAST($idExpr AS VARCHAR) || '$salt'")} % 1000000"

  /** Deterministic stratified Bernoulli sample: en at 50 %, de at 25 %,
    * everything else at 10 % — a pure hash filter, no shuffle.
    */
  val sampleStratified: QueryDef = QueryDef(
    "sample_stratified",
    (s, dir) => Curation.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, lang FROM documents
      WHERE CAST(${bucketSql("doc_id", "graft")} AS DOUBLE) <
        (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END) * 1e6
      ORDER BY doc_id"""))

  /** Deterministic per-language reservoir: the 5 smallest-hash docs per
    * language — uniform without replacement, stable across engines.
    */
  val sampleReservoir: QueryDef = QueryDef(
    "sample_reservoir",
    (s, dir) => Curation.hashReservoir(t(s, dir, "documents"),
        "doc_id", "lang", k = 5)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank")),
    Some(s"""WITH rk AS (SELECT doc_id, lang,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY ${md5LongSql("CAST(doc_id AS VARCHAR) || 'graft'")}, doc_id
        ) AS INT) AS sample_rank FROM documents)
      SELECT doc_id, lang, sample_rank FROM rk WHERE sample_rank <= 5
      ORDER BY lang, sample_rank"""))

  /** view → click → purchase ordered funnel with first-occurrence
    * semantics (step k clears at the earliest step-k event strictly after
    * the step-(k−1) clear).
    */
  val funnelConversion: QueryDef = QueryDef(
    "funnel_conversion",
    (s, dir) => Behavior.funnel(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy(col("step")),
    Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
      c AS (SELECT 1 AS step, 'view' AS event_type,
            (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
      SELECT CAST(step AS INT) AS step, event_type, n_users,
        CASE WHEN b.b > 0 THEN ROUND(CAST(n_users AS DOUBLE) / b.b, 6)
             ELSE 0.0 END AS conversion
      FROM c CROSS JOIN (SELECT COUNT(*) AS b FROM s1) b ORDER BY step"""))

  /** Day-granularity cohort retention matrix over first-event cohorts. */
  val cohortRetention: QueryDef = QueryDef(
    "cohort_retention",
    (s, dir) => Behavior.cohortRetention(t(s, dir, "events"), "user_id", "ts")
      .orderBy(col("cohort"), col("day_offset")),
    Some("""WITH coh AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
          FROM events GROUP BY 1),
      act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM coh GROUP BY 1),
      m AS (SELECT c.cohort, datediff('day', c.cohort, a.day) AS day_offset,
          COUNT(*) AS n_active
        FROM act a JOIN coh c USING (user_id) GROUP BY 1, 2)
      SELECT m.cohort, CAST(m.day_offset AS INT) AS day_offset, m.n_active,
        ROUND(CAST(m.n_active AS DOUBLE) / sz.cohort_size, 6) AS retention
      FROM m JOIN sz USING (cohort) ORDER BY cohort, day_offset"""))

  /** Deterministic 80/10/10 train/val/test assignment by salted hash
    * bucket, rolled up per (split, lang) so the whole partition sits under
    * one small hash-gated result.
    */
  val sampleSplitAssign: QueryDef = QueryDef(
    "sample_split_assign",
    (s, dir) => Curation.splitAssign(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang")),
    Some(s"""WITH a AS (SELECT lang,
          CASE WHEN ${md5LongSql("CONCAT(CAST(doc_id AS VARCHAR), 'graft')")}
                 % 1000000 < 800000 THEN 'train'
               WHEN ${md5LongSql("CONCAT(CAST(doc_id AS VARCHAR), 'graft')")}
                 % 1000000 < 900000 THEN 'val'
               ELSE 'test' END AS split
        FROM documents)
      SELECT split, lang, COUNT(*) AS n_docs
      FROM a GROUP BY split, lang ORDER BY split, lang"""))

  /** Efraimidis-Spirakis weighted sample over documents, weight = n_chars:
    * top-50 by the rounded ln(u)/w key. The selection ORDER is gated, not
    * just the set — both engines must draw the identical sample.
    */
  val sampleWeighted: QueryDef = {
    val k = 50
    val powSql = s"CAST(${math.pow(2.0, 60).toString} AS DOUBLE)"
    val hSql = md5LongSql("'wrsgraft:' || CAST(doc_id AS VARCHAR)")
    QueryDef(
      "sample_weighted",
      (s, dir) => graft.llm.Curation.weightedSample(
          t(s, dir, "documents"), "doc_id", "n_chars", k = k)
        .orderBy(col("sample_rank")),
      Some(s"""WITH h AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
          $hSql AS hv
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        ks AS (SELECT doc_id, weight,
          ROUND(LN((CAST(hv AS DOUBLE) + 1.0) / $powSql) / weight, 10) AS wkey
        FROM h),
        r AS (SELECT doc_id, weight, wkey, ROW_NUMBER() OVER
          (ORDER BY wkey DESC, doc_id) AS sample_rank FROM ks)
      SELECT CAST(sample_rank AS INT) AS sample_rank, doc_id, weight, wkey
      FROM r WHERE sample_rank <= $k ORDER BY sample_rank"""))
  }

  /** DAU/WAU stickiness per ISO week (date_trunc week = Monday on both
    * engines): average daily actives over weekly actives, the engagement
    * ratio every behavioral dashboard carries.
    */
  val stickiness: QueryDef = QueryDef(
    "b5_stickiness",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(to_date(date_trunc("WEEK", col("ts"))).as("wk"),
          to_date(col("ts")).as("d"), col("user_id"))
      val daily = ev.groupBy(col("wk"), col("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val weekly = ev.groupBy(col("wk"))
        .agg(countDistinct(col("user_id")).as("wau"))
      daily.groupBy(col("wk"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("dau")).as("sum_dau"))
        .join(weekly, Seq("wk"))
        .select(col("wk"), col("n_days"), col("wau"),
          round((col("sum_dau").cast("double") / col("n_days")) /
            col("wau").cast("double"), 6).as("stickiness"))
        .orderBy(col("wk"))
    },
    Some("""WITH ev AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
          CAST(ts AS DATE) AS d, user_id FROM events),
      daily AS (SELECT wk, d, COUNT(DISTINCT user_id) AS dau
        FROM ev GROUP BY 1, 2),
      weekly AS (SELECT wk, COUNT(DISTINCT user_id) AS wau
        FROM ev GROUP BY 1)
      SELECT dy.wk, CAST(dy.n_days AS BIGINT) AS n_days,
        CAST(w.wau AS BIGINT) AS wau,
        ROUND((CAST(dy.sum_dau AS DOUBLE) / dy.n_days) /
          CAST(w.wau AS DOUBLE), 6) AS stickiness
      FROM (SELECT wk, COUNT(*) AS n_days, SUM(dau) AS sum_dau
            FROM daily GROUP BY wk) dy
      JOIN weekly w USING (wk) ORDER BY dy.wk"""))

  /** Column profile of the events table: per-column null / exact-distinct
    * counts plus the whole-row duplicate row. Count-only on purpose —
    * min/max would drag engine type formatting into the gate.
    */
  val dqProfile: QueryDef = {
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    def colSql(c: String): String =
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
        CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM events"""
    QueryDef(
      "dq_profile",
      (s, dir) => graft.operators.Relational.dqProfile(
          t(s, dir, "events"), cols)
        .orderBy(col("column_name")),
      Some(s"""WITH dr AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndr FROM
          (SELECT DISTINCT * FROM events))
      ${cols.map(colSql).mkString("\n      UNION ALL ")}
      UNION ALL SELECT '*' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(*) - (SELECT ndr FROM dr) AS BIGINT) AS n_null,
        (SELECT ndr FROM dr) AS n_distinct FROM events
      ORDER BY column_name"""))
  }

  /** Referential-integrity orphan report: lineitem rows whose order key
    * misses a dimension slice (orders with o_orderkey % 5 = 0 removed, so
    * ~20% of facts really are orphans — the audit exercises non-zero
    * findings, not a vacuous pass).
    */
  val dqReferential: QueryDef = {
    val k = 10
    QueryDef(
      "dq_referential",
      (s, dir) => graft.operators.Relational.dqOrphans(
          t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 0),
          "o_orderkey", k = k)
        .orderBy(col("rank")),
      Some(s"""WITH dim AS (SELECT DISTINCT o_orderkey FROM orders
          WHERE o_orderkey % 5 <> 0),
        orp AS (SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem l
          ANTI JOIN dim d ON l.l_orderkey = d.o_orderkey GROUP BY 1),
        r AS (SELECT l_orderkey, n_rows, ROW_NUMBER() OVER
          (ORDER BY n_rows DESC, l_orderkey) AS rank FROM orp)
      SELECT CAST(rank AS INT) AS rank, l_orderkey,
        CAST(n_rows AS BIGINT) AS n_rows
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Key-skew diagnostic on the lineitem part key: top-10 keys with share
    * and decimal-exact cumulative share — the number that decides whether
    * the key needs salting before a join.
    */
  val dqSkewProfile: QueryDef = {
    val k = 10
    QueryDef(
      "dq_skew_profile",
      (s, dir) => graft.operators.Relational.keySkewProfile(
          t(s, dir, "lineitem"), "l_partkey", k = k)
        .orderBy(col("rank")),
      Some(s"""WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
        cnts AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        top AS (SELECT l_partkey, cnt FROM cnts
          ORDER BY cnt DESC, l_partkey LIMIT $k),
        sh AS (SELECT l_partkey, cnt, ROW_NUMBER() OVER
            (ORDER BY cnt DESC, l_partkey) AS rank,
            ROUND(CAST(cnt AS DOUBLE) / (SELECT n FROM tot), 6) AS share
          FROM top)
      SELECT CAST(rank AS INT) AS rank, l_partkey, cnt, share,
        ROUND(CAST(SUM(CAST(share AS DECIMAL(27,10))) OVER
          (ORDER BY rank) AS DOUBLE), 6) AS cum_share
      FROM sh ORDER BY rank"""))
  }

  /** First-order Markov transition matrix over per-user event sequences. */
  val markovTransitions: QueryDef = QueryDef(
    "markov_transitions",
    (s, dir) => Stats.markovTransitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
      .orderBy(col("src"), col("dst")),
    Some("""WITH pr AS (SELECT event_type AS src,
        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS dst FROM events),
      c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM pr WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, n_trans,
      ROUND(CAST(n_trans AS DOUBLE) /
        CAST(SUM(n_trans) OVER (PARTITION BY src) AS DOUBLE), 6) AS prob
    FROM c ORDER BY src, dst"""))

  /** Top-15 three-step entry paths by user count. */
  val pathTopK: QueryDef = {
    val len = 3; val k = 15
    QueryDef(
      "b6_path_topk",
      (s, dir) => Behavior.pathTopK(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", len = len, k = k)
        .orderBy(col("rank")),
      Some(s"""WITH f AS (SELECT user_id, event_type, ROW_NUMBER() OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        p AS (SELECT user_id,
          ${(1 to len).map(i =>
            s"MAX(CASE WHEN rn = $i THEN event_type END) AS p$i")
            .mkString(",\n          ")}
          FROM f WHERE rn <= $len GROUP BY 1),
        c AS (SELECT CONCAT_WS('>', ${(1 to len).map("p" + _).mkString(", ")})
            AS path, CAST(COUNT(*) AS BIGINT) AS n_users FROM p GROUP BY 1),
        r AS (SELECT path, n_users, ROW_NUMBER() OVER
          (ORDER BY n_users DESC, path) AS rank FROM c)
      SELECT CAST(rank AS INT) AS rank, path, n_users
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Seasonal robust anomaly baseline: median/MAD per (event_type,
    * hour-of-day) bucket, modified z-score flags at |z| > 3.5 — the
    * multi-key [[graft.operators.Agg.madOutliers]].
    */
  val anomalySeasonal: QueryDef = {
    val zt = 3.5
    def medSql(src: String, vcol: String, out: String): String =
      s"""SELECT event_type, hr, AVG($vcol) AS $out FROM
        (SELECT event_type, hr, $vcol, ROW_NUMBER() OVER
          (PARTITION BY event_type, hr ORDER BY $vcol) AS rn,
          COUNT(*) OVER (PARTITION BY event_type, hr) AS n FROM $src)
        WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
           OR rn = CAST(FLOOR(n / 2) AS BIGINT) + 1
        GROUP BY event_type, hr"""
    QueryDef(
      "anomaly_seasonal",
      (s, dir) => graft.operators.Agg.madOutliers(
          t(s, dir, "events")
            .select(col("event_type"), hour(col("ts")).as("hr"), col("value")),
          Seq("event_type", "hr"), "value", zThresh = zt)
        .orderBy(col("event_type"), col("hr")),
      Some(s"""WITH b AS (SELECT event_type,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
          CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
        med AS MATERIALIZED (${medSql("b", "v", "med")}),
        dev AS (SELECT b.event_type, b.hr, b.v, m.med, ABS(b.v - m.med) AS d
          FROM b JOIN med m USING (event_type, hr)),
        mad AS MATERIALIZED (${medSql("dev", "d", "mad")}),
        z AS (SELECT dv.event_type, dv.hr, dv.v, dv.med, md.mad,
            CASE WHEN md.mad > 0 THEN
              ROUND(CAST(0.6745 AS DOUBLE) * (dv.v - dv.med) / md.mad, 6)
            END AS zv
          FROM dev dv JOIN mad md USING (event_type, hr))
      SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(ANY_VALUE(med), 6) AS med, ROUND(ANY_VALUE(mad), 6) AS mad,
        CAST(SUM(CASE WHEN (mad > 0 AND ABS(zv) > $zt)
                   OR (mad <= 0 AND v <> med) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers,
        ROUND(MAX(ABS(zv)), 6) AS max_abs_z
      FROM z GROUP BY event_type, hr ORDER BY event_type, hr"""))
  }

  /** Welch z per event type for value means between user-id-parity arms. */
  val abWelchZ: QueryDef = {
    def armSql(arm: Int, c: String) = s"MAX(CASE WHEN arm = $arm THEN $c END)"
    def vrSql(i: Int) =
      s"((svv$i - sv$i * sv$i / CAST(n$i AS DOUBLE)) / (CAST(n$i AS DOUBLE) - 1.0))"
    val se2 = s"(${vrSql(0)} / CAST(n0 AS DOUBLE) + ${vrSql(1)} / CAST(n1 AS DOUBLE))"
    QueryDef(
      "ab_welch_z",
      (s, dir) => Stats.abWelchZ(
          t(s, dir, "events")
            .select(col("event_type"), (col("user_id") % 2).as("variant"),
              col("value")),
          "event_type", "variant", "value")
        .orderBy(col("event_type")),
      Some(s"""WITH b AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
          CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
        s AS (SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS sv,
          CAST(SUM(CAST((v * v) AS DECIMAL(27,10))) AS DOUBLE) AS svv,
          MIN(v) AS mn, MAX(v) AS mx
          FROM b GROUP BY 1, 2),
        p AS (SELECT event_type,
          ${armSql(0, "n")} AS n0, ${armSql(0, "sv")} AS sv0,
          ${armSql(0, "svv")} AS svv0,
          ${armSql(0, "mn")} AS mn0, ${armSql(0, "mx")} AS mx0,
          ${armSql(1, "n")} AS n1, ${armSql(1, "sv")} AS sv1,
          ${armSql(1, "svv")} AS svv1,
          ${armSql(1, "mn")} AS mn1, ${armSql(1, "mx")} AS mx1
          FROM s GROUP BY 1)
      SELECT event_type, n0, n1,
        ROUND(sv0 / CAST(n0 AS DOUBLE), 6) AS mean0,
        ROUND(sv1 / CAST(n1 AS DOUBLE), 6) AS mean1,
        CASE WHEN n0 >= 2 AND n1 >= 2 AND (mx0 > mn0 OR mx1 > mn1) THEN
          ROUND((sv1 / CAST(n1 AS DOUBLE) - sv0 / CAST(n0 AS DOUBLE)) /
            SQRT($se2), 6) END AS welch_z
      FROM p ORDER BY event_type"""))
  }

  /** Kaplan-Meier signup→purchase conversion curve in hours; users whose
    * first purchase never follows their first signup are right-censored
    * at a fixed horizon (2024-01-31T00:00Z, epoch 1706659200).
    */
  val survivalKm: QueryDef = {
    val horizon = 1706659200L
    QueryDef(
      "survival_km",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val sg = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
        val pu = ev.filter(col("event_type") === "purchase")
          .join(sg, Seq("user_id"))
          .filter(col("ts") > col("t0"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val subj = sg.join(pu, Seq("user_id"), "left")
          .select(floor((coalesce(unix_timestamp(col("t1")), lit(horizon)) -
              unix_timestamp(col("t0"))) / lit(3600.0)).cast("long").as("dur"),
            col("t1").isNotNull.as("obs"))
        Stats.kaplanMeier(subj, "dur", "obs").orderBy(col("dur"))
      },
      Some(s"""WITH sg AS (SELECT user_id, MIN(ts) AS t0 FROM events
          WHERE event_type = 'signup' GROUP BY 1),
        pu AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
          JOIN sg USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > sg.t0 GROUP BY 1),
        subj AS (SELECT CAST(FLOOR((COALESCE(${epochSql("t1")}, $horizon) -
            ${epochSql("t0")}) / 3600.0) AS BIGINT) AS dur,
            (t1 IS NOT NULL) AS obs
          FROM sg LEFT JOIN pu USING (user_id)),
        g AS (SELECT dur,
          CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
          CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
          FROM subj WHERE dur IS NOT NULL AND dur >= 0 GROUP BY 1),
        r AS (SELECT dur, d, c, CAST(SUM(d + c) OVER (ORDER BY dur
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
          AS n_risk FROM g),
        e AS (SELECT dur, d, c, n_risk,
          1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
          FROM r WHERE d > 0),
        st AS (SELECT dur, n_risk, d, c,
          MIN(CASE WHEN f > 0 THEN 1.0 ELSE 0.0 END) OVER (ORDER BY dur
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
          CAST(SUM(CAST((CASE WHEN f > 0 THEN ROUND(LN(f), 9) ELSE 0.0 END)
            AS DECIMAL(27,10))) OVER (ORDER BY dur
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS cum
          FROM e)
      SELECT dur, n_risk, d AS n_events, c AS n_censored,
        CASE WHEN dead > 0 THEN ROUND(EXP(cum), 6) ELSE 0.0 END AS survival
      FROM st ORDER BY dur"""))
  }

  /** First-occurrence ordering matrix: users whose first a preceded
    * their first b, for every ordered event-type pair.
    */
  val eventuallyFollows: QueryDef = QueryDef(
    "b7_eventually_follows",
    (s, dir) => Behavior.eventuallyFollows(t(s, dir, "events"),
        "user_id", "ts", "event_type")
      .orderBy(col("a"), col("b")),
    Some("""WITH f AS (SELECT user_id, event_type AS t, MIN(ts) AS ft
        FROM events GROUP BY 1, 2)
      SELECT a.t AS a, b.t AS b, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM f a JOIN f b ON a.user_id = b.user_id
        AND a.t <> b.t AND a.ft < b.ft
      GROUP BY 1, 2 ORDER BY a, b"""))

  /** Per-day cadence audit: event count + longest intra-day gap. */
  val dqFreshness: QueryDef = QueryDef(
    "dq_freshness_gaps",
    (s, dir) => Relational.dqFreshness(t(s, dir, "events"), "ts", "event_id")
      .orderBy(col("day")),
    Some(s"""WITH b AS (SELECT CAST(ts AS DATE) AS day, ts, event_id
        FROM events),
      l AS (SELECT day, ts, LAG(ts) OVER (PARTITION BY day
        ORDER BY ts, event_id) AS prev FROM b)
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
      MAX(${epochSql("ts")} - ${epochSql("prev")}) AS max_gap_s
    FROM l GROUP BY 1 ORDER BY day"""))

  /** RFM segmentation over purchase events: recency (days before the
    * fixed 2024-02-01 reference), frequency, monetary per user, scored
    * into VALUE-defined quartiles (score = 1 + #thresholds passed, best
    * quartile = 1) and concatenated into the classic segment code.
    *
    * Scale shape: the three quartile thresholds come from
    * [[graft.operators.Agg.exactPercentilesMulti]] — shuffle-free
    * counting selection, never a global sort — and are broadcast back as
    * literals, so no `NTILE OVER (ORDER BY …)` single-partition window
    * exists at ANY table size (a billion-customer RFM stays distributed).
    * Value-defined buckets also mean ties share a score, the semantics a
    * marketer actually wants; rank-split NTILE would separate equal
    * spenders by user id.
    */
  val rfmSegments: QueryDef = {
    val refEpoch = 1706745600L // 2024-02-01T00:00:00Z
    QueryDef(
      "b8_rfm_segments",
      (s, dir) => {
        val base = t(s, dir, "events")
          .filter(col("event_type") === "purchase" && col("value").isNotNull)
          .groupBy(col("user_id"))
          .agg(floor((lit(refEpoch) - max(unix_timestamp(col("ts")))) /
              lit(86400.0)).cast("long").as("recency_days"),
            count(lit(1)).as("frequency"),
            dsum6(col("value")).as("monetary"))
          .localCheckpoint() // threshold passes + final scan read it 3×
        val n = base.count()
        val cols3 = Seq("recency_days", "frequency", "monetary")
        val qs = graft.operators.Agg.exactPercentilesMulti(
          base, cols3, Seq(0.25, 0.5, 0.75), cols3.map(_ -> n).toMap)
        // ascending metric (lower = better): score 1 below q25, 4 above q75
        def asc(c: Column, th: Seq[Double]): Column =
          th.map(q => when(c.cast("double") > lit(q), 1).otherwise(0))
            .foldLeft(lit(1))(_ + _).cast("int")
        // descending metric (higher = better): score 1 at/above q75
        def desc(c: Column, th: Seq[Double]): Column =
          th.map(q => when(c.cast("double") < lit(q), 1).otherwise(0))
            .foldLeft(lit(1))(_ + _).cast("int")
        base.select(col("user_id"), col("recency_days"), col("frequency"),
            col("monetary"),
            asc(col("recency_days"), qs("recency_days")).as("r_score"),
            desc(col("frequency"), qs("frequency")).as("f_score"),
            desc(col("monetary"), qs("monetary")).as("m_score"))
          .withColumn("segment",
            concat(col("r_score"), col("f_score"), col("m_score")))
          .orderBy(col("user_id"))
      },
      Some {
        def ascSql(v: String, q: String): String =
          s"""CAST(1 + (CASE WHEN CAST($v AS DOUBLE) > $q[1] THEN 1 ELSE 0 END)
                + (CASE WHEN CAST($v AS DOUBLE) > $q[2] THEN 1 ELSE 0 END)
                + (CASE WHEN CAST($v AS DOUBLE) > $q[3] THEN 1 ELSE 0 END) AS INT)"""
        def descSql(v: String, q: String): String =
          s"""CAST(1 + (CASE WHEN CAST($v AS DOUBLE) < $q[1] THEN 1 ELSE 0 END)
                + (CASE WHEN CAST($v AS DOUBLE) < $q[2] THEN 1 ELSE 0 END)
                + (CASE WHEN CAST($v AS DOUBLE) < $q[3] THEN 1 ELSE 0 END) AS INT)"""
        s"""WITH base AS MATERIALIZED (SELECT user_id,
          CAST(FLOOR(($refEpoch - MAX(${epochSql("ts")})) / 86400.0)
            AS BIGINT) AS recency_days,
          CAST(COUNT(*) AS BIGINT) AS frequency,
          ${dsum6Sql("value")} AS monetary
          FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
          GROUP BY 1),
        th AS (SELECT
          quantile_cont(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rq,
          quantile_cont(CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75]) AS fq,
          quantile_cont(CAST(monetary AS DOUBLE), [0.25, 0.5, 0.75]) AS mq
          FROM base),
        sc AS (SELECT user_id, recency_days, frequency, monetary,
          ${ascSql("recency_days", "rq")} AS r_score,
          ${descSql("frequency", "fq")} AS f_score,
          ${descSql("monetary", "mq")} AS m_score
          FROM base CROSS JOIN th)
      SELECT user_id, recency_days, frequency, monetary, r_score, f_score,
        m_score, CONCAT(r_score, f_score, m_score) AS segment
      FROM sc ORDER BY user_id"""
      })
  }

  /** Seasonal-naive forecast backtest: per (event_type, hour-of-day)
    * train-window mean predicts the held-out final day; per-type MAE +
    * bias gate the whole backtest loop (train/test split, baseline
    * build, scoring join, error rollup).
    */
  val forecastBacktest: QueryDef = {
    val testDay = "2024-01-30"
    QueryDef(
      "forecast_backtest",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            hour(col("ts")).as("hr"), col("value"))
        val train = ev.filter(col("day") < lit(testDay).cast("date"))
          .groupBy(col("event_type"), col("hr"))
          .agg(dmean(col("value")).as("pred"))
        val test = ev.filter(col("day") === lit(testDay).cast("date"))
        test.join(train, Seq("event_type", "hr"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_test"),
            r6(dmean(abs(col("value") - col("pred")))).as("mae"),
            r6(dmean(col("value") - col("pred"))).as("bias"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr, CAST(value AS DOUBLE) AS v
          FROM events WHERE value IS NOT NULL),
        train AS (SELECT event_type, hr, ${dmeanSql("v")} AS pred
          FROM ev WHERE day < DATE '$testDay' GROUP BY 1, 2),
        test AS (SELECT * FROM ev WHERE day = DATE '$testDay')
      SELECT t.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
        ROUND(${dmeanSql("ABS(t.v - tr.pred)")}, 6) AS mae,
        ROUND(${dmeanSql("t.v - tr.pred")}, 6) AS bias
      FROM test t JOIN train tr ON tr.event_type = t.event_type
        AND tr.hr = t.hr
      GROUP BY t.event_type ORDER BY t.event_type"""))
  }

  /** Power-user selection above the exact interpolated p90 of per-user
    * event counts — percentile threshold on the CONTRACTED |users|
    * relation, then a filter; the "top decile cohort" every growth
    * dashboard defines.
    *
    * Scale shape: the threshold comes from
    * [[graft.operators.Agg.exactPercentilesMulti]] — shuffle-free
    * counting selection, never a global sort or single-partition window —
    * and is broadcast back as a LITERAL, so the plan over the per-user
    * relation is scan → hash-agg → filter at ANY table size (a
    * billion-user events table never single-partition-sorts |users| rows).
    */
  val powerUsers: QueryDef = {
    val p = 0.9
    QueryDef(
      "b9_power_users",
      (s, dir) => {
        val counts = t(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .localCheckpoint() // threshold pass + final scan read it twice
        val n = counts.count()
        val thr = graft.operators.Agg.exactPercentilesMulti(
          counts, Seq("n_events"), Seq(p), Map("n_events" -> n))("n_events").head
        counts
          .filter(col("n_events").cast("double") > lit(thr))
          .select(col("user_id"), col("n_events"),
            round(lit(thr), 6).as("p90_threshold"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT)
          AS n_events FROM events GROUP BY 1),
        thr AS (SELECT quantile_cont(CAST(n_events AS DOUBLE), $p) AS thr
          FROM counts)
      SELECT c.user_id, c.n_events, ROUND(t.thr, 6) AS p90_threshold
      FROM counts c CROSS JOIN thr t
      WHERE CAST(c.n_events AS DOUBLE) > t.thr
      ORDER BY c.user_id"""))
  }

  /** k-anonymity / l-diversity audit over the quasi-identifier
    * (event_type, day, hour) with user_id as the sensitive attribute:
    * equivalence-class census, rows in classes below k, and classes
    * without sensitive-value diversity — the data-governance numbers a
    * release review asks for.
    */
  val kAnonymity: QueryDef = {
    val k = 5
    QueryDef(
      "privacy_k_anonymity",
      (s, dir) => {
        val classes = t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"),
            hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("sz"),
            countDistinct(col("user_id")).as("n_sensitive"))
        classes.agg(count(lit(1)).as("n_classes"),
          sum(col("sz")).as("n_rows"),
          min(col("sz")).as("min_class_size"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("classes_below_k"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_below_k"),
          sum(when(col("n_sensitive") < 2, 1L).otherwise(0L))
            .as("classes_without_diversity"))
      },
      Some(s"""WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
          CAST(COUNT(*) AS BIGINT) AS sz,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive
          FROM events GROUP BY 1, 2, 3)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(SUM(sz) AS BIGINT) AS n_rows,
        CAST(MIN(sz) AS BIGINT) AS min_class_size,
        CAST(SUM(CASE WHEN sz < $k THEN 1 ELSE 0 END) AS BIGINT)
          AS classes_below_k,
        CAST(SUM(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT)
          AS rows_below_k,
        CAST(SUM(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS classes_without_diversity
      FROM c"""))
  }

  /** Benford's-law first-digit audit of order totals: observed digit
    * shares vs the log10(1 + 1/d) expectation with per-digit chi²
    * contributions — the forensic-accounting screen.
    */
  val benford: QueryDef = QueryDef(
    "dq_benford",
    (s, dir) => {
      val d = substring(col("o_totalprice").cast("string"), 1, 1).cast("int")
      val counts = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(d.as("digit"))
        .filter(col("digit").between(1, 9))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("tn"))
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("tn").cast("double"), 6)
            .as("observed"),
          round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
            .as("expected"),
          round(
            (col("n").cast("double") / col("tn").cast("double") -
              log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))) *
            (col("n").cast("double") / col("tn").cast("double") -
              log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))) /
            log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
            .as("chi2_term"))
        .orderBy(col("digit"))
    },
    Some("""WITH c AS (SELECT CAST(SUBSTRING(CAST(o_totalprice AS VARCHAR), 1, 1)
          AS INT) AS digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice > 0
          AND CAST(SUBSTRING(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT)
            BETWEEN 1 AND 9
        GROUP BY 1),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c)
    SELECT digit, n,
      ROUND(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS observed,
      ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected,
      ROUND((CAST(n AS DOUBLE) / CAST(tn AS DOUBLE) -
          LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))) *
        (CAST(n AS DOUBLE) / CAST(tn AS DOUBLE) -
          LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))) /
        LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS chi2_term
    FROM c CROSS JOIN t ORDER BY digit"""))

  /** Candidate-key discovery over the orders table: distinct-count ratio
    * per proposed key set — ratio 1 means the combination uniquely
    * identifies rows; the schema-inference audit.
    */
  val candidateKeys: QueryDef = {
    val combos = Seq(
      "o_orderkey" -> Seq("o_orderkey"),
      "o_custkey" -> Seq("o_custkey"),
      "o_custkey+o_orderdate" -> Seq("o_custkey", "o_orderdate"),
      "o_orderstatus+o_orderpriority" -> Seq("o_orderstatus", "o_orderpriority"))
    QueryDef(
      "dq_candidate_keys",
      (s, dir) => {
        val o = t(s, dir, "orders")
        combos.map { case (name, cols) =>
          o.agg(count(lit(1)).as("n_rows"),
              countDistinct(col(cols.head), cols.tail.map(col): _*)
                .as("n_distinct"))
            .select(lit(name).as("key_set"), col("n_rows"), col("n_distinct"),
              round(col("n_distinct").cast("double") /
                col("n_rows").cast("double"), 6).as("uniqueness"),
              (col("n_distinct") === col("n_rows")).as("is_candidate_key"))
        }.reduceLeft(_ unionAll _).orderBy(col("key_set"))
      },
      Some(combos.map { case (name, cols) =>
        s"""SELECT '$name' AS key_set, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(DISTINCT (${cols.mkString(", ")})) AS BIGINT)
            AS n_distinct,
          ROUND(CAST(COUNT(DISTINCT (${cols.mkString(", ")})) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS uniqueness,
          (COUNT(DISTINCT (${cols.mkString(", ")})) = COUNT(*))
            AS is_candidate_key
        FROM orders"""
      }.mkString("", " UNION ALL ", " ORDER BY key_set")))
  }

  /** Systematic sampling: every 40th event in the (ts, event_id) total
    * order with a fixed anchor — the deterministic evenly-spaced sample
    * (contrast with the hash-Bernoulli and reservoir samplers already
    * gated). The rank runs per day so no global sort is ever needed; the
    * (day, rank) pair is the systematic index.
    */
  val systematicSample: QueryDef = {
    val k = 40
    QueryDef(
      "sample_systematic",
      (s, dir) => {
        val day = to_date(col("ts"))
        val w = Window.partitionBy(col("day")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("event_id"), day.as("day"), col("ts"), col("user_id"),
            col("event_type"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") % k === 1)
          .select(col("event_id"), col("day"), col("user_id"),
            col("event_type"), col("__rn").cast("int").as("day_rank"))
          .orderBy(col("day"), col("day_rank"))
      },
      Some(s"""WITH r AS (SELECT event_id, CAST(ts AS DATE) AS day, user_id,
          event_type, ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
            ORDER BY ts, event_id) AS rn
          FROM events)
      SELECT event_id, day, user_id, event_type, CAST(rn AS INT) AS day_rank
      FROM r WHERE rn % $k = 1 ORDER BY day, day_rank"""))
  }

  /** Ingest-completeness checkerboard: per day, which event types
    * arrived and which are missing — the pivot every ingestion dashboard
    * shows, with the per-day missing count as the alarm column.
    */
  val completenessMatrix: QueryDef = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    QueryDef(
      "dq_completeness_matrix",
      (s, dir) => {
        val hasCols = types.map(tp =>
          max(when(col("event_type") === tp, 1L).otherwise(0L))
            .as(s"has_$tp"))
        val present = t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(hasCols.head, hasCols.tail: _*)
        present.withColumn("n_missing",
            types.map(tp => lit(1L) - col(s"has_$tp")).reduceLeft(_ + _))
          .orderBy(col("day"))
      },
      Some(s"""SELECT CAST(ts AS DATE) AS day,
        ${types.map(tp =>
          s"CAST(MAX(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS BIGINT) AS has_$tp")
          .mkString(",\n        ")},
        CAST(${types.map(tp =>
          s"(1 - MAX(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END))")
          .mkString(" + ")} AS BIGINT) AS n_missing
      FROM events GROUP BY 1 ORDER BY day"""))
  }

  /** Sample ACF at lags 1..4 of `value` per event_type in (ts, event_id)
    * order ([[graft.operators.Stats.acf]]). The estimator's numerator is
    * expanded to sufficient statistics (Σvₜvₜ₋ℓ, Σvₜ, Σvₜ₋ℓ, nℓ) so ONE
    * partitioned lag window + ONE map-combinable groupBy answer all lags
    * — no mean-first second pass over the data, no global window. Sums
    * accumulate in DECIMAL(27,10) (dsum rule) making the statistics
    * partition- and merge-order-independent; the closed form then runs
    * on exact scalars in the identical expression tree on both engines.
    */
  val tsAcf: QueryDef = {
    val maxLag = 4
    QueryDef(
      "ts_acf",
      (s, dir) => graft.operators.Stats.acf(t(s, dir, "events"),
          "event_type", "ts", "event_id", "value", maxLag)
        .orderBy(col("event_type"), col("lag")),
      Some {
        val lagCols = (1 to maxLag)
          .map(l => s"LAG(v, $l) OVER w AS v$l").mkString(",\n            ")
        val lagAggs = (1 to maxLag).map { l =>
          s"""CAST(COUNT(v$l) AS BIGINT) AS n$l,
            ${dsumSql(s"CASE WHEN v$l IS NOT NULL THEN v * v$l END")} AS sxy$l,
            ${dsumSql(s"CASE WHEN v$l IS NOT NULL THEN v END")} AS sx$l,
            ${dsumSql(s"v$l")} AS sy$l"""
        }.mkString(",\n          ")
        val branches = (1 to maxLag).map { l =>
          s"""SELECT event_type, CAST($l AS INT) AS lag, n$l AS n_pairs,
            CASE WHEN mx > mn AND n$l > 0
              THEN ROUND((sxy$l - m * sx$l - m * sy$l +
                CAST(n$l AS DOUBLE) * m * m) / den, 6) END AS acf
          FROM c"""
        }.mkString("\n          UNION ALL ")
        s"""WITH ev AS (SELECT event_type, ts, event_id,
              CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))),
          l AS (SELECT event_type, v,
            $lagCols
          FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
          a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            ${dsumSql("v")} AS s, ${dsumSql("v * v")} AS ss,
            MIN(v) AS mn, MAX(v) AS mx,
          $lagAggs
          FROM l GROUP BY 1),
          b AS (SELECT *, s / CAST(n AS DOUBLE) AS m FROM a),
          c AS (SELECT *, ss - CAST(n AS DOUBLE) * m * m AS den FROM b)
        SELECT event_type, lag, n_pairs, acf FROM (
          $branches)
        ORDER BY event_type, lag"""
      })
  }

  private val kcK = 5

  private val kcDim = 64

  /** The per-round CTE chain of [[Coreset.kCenterSelect]]: each round
    * scores every not-yet-chosen candidate by its min squared-L2 distance
    * to the chosen set and takes the argmax (ties → smallest id) — the
    * structural not-chosen test is the same join-cardinality count the
    * Scala side uses.
    */
  private def kcRoundsSql(k: Int, dim: Int): String = {
    val nb = normArrSql("b.v", dim)
    val nc = normArrSql("c.v", dim)
    val dbc = dotArrSql("b.v", "c.v", dim)
    (2 to k).map { r =>
      s"""r$r AS (SELECT $r AS sel_order, id, v, dist FROM (
          SELECT b.id, b.v, MIN(($nb) + ($nc) - 2.0 * ($dbc)) AS dist,
            COUNT(*) AS nc
          FROM base b JOIN c${r - 1} c ON b.id <> c.id
          GROUP BY b.id, b.v)
        WHERE nc = ${r - 1} ORDER BY dist DESC, id LIMIT 1),
        c$r AS (SELECT * FROM c${r - 1} UNION ALL SELECT * FROM r$r)"""
    }.mkString(",\n        ")
  }

  /** Greedy k-center (farthest-point) coreset selection over the embedding
    * corpus ([[Coreset.kCenterSelect]]): max-norm seed, then k−1 rounds of
    * argmax-of-min-distance, each one broadcast pass over the corpus.
    */
  val sampleKCenter: QueryDef = QueryDef(
    "sample_kcenter",
    (s, dir) => {
      Coreset.kCenterSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
        kcDim, kcK).orderBy(col("sel_order"))
    },
    Some(s"""WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = $kcDim),
      c1 AS (SELECT 1 AS sel_order, id, v, CAST(NULL AS DOUBLE) AS dist FROM (
        SELECT id, v FROM base
        ORDER BY (${normArrSql("v", kcDim)}) DESC, id LIMIT 1)),
      ${kcRoundsSql(kcK, kcDim)}
      SELECT sel_order, id, ROUND(dist, 6) AS dist FROM c$kcK
      ORDER BY sel_order"""))

  /** Per-user CUSUM change point ([[Stats.cusumChangePoint]]): the peak of
    * the running centered sum over each user's value series, exact decimal
    * cumsum, argmax tie-broken by earliest (ts, event_id).
    */
  val tsCusum: QueryDef = QueryDef(
    "ts_cusum_changepoint",
    (s, dir) => {
      Stats.cusumChangePoint(t(s, dir, "events"), "user_id", "ts",
        "event_id", "value").orderBy(col("user_id"))
    },
    Some("""WITH c AS (SELECT user_id, ts, event_id, value,
          CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER (PARTITION BY user_id) AS DOUBLE)
            / CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS m
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
      s AS (SELECT user_id, ts, event_id,
          SUM(CAST(value - m AS DECIMAL(27,10))) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sdec,
          COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM c),
      r AS (SELECT user_id, n, ts, event_id, sdec,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ABS(sdec) DESC, ts, event_id) AS rn
        FROM s)
      SELECT user_id, CAST(n AS BIGINT) AS n, ts AS cp_ts, event_id AS cp_id,
        CAST(ROUND(sdec, 6) AS DOUBLE) AS cusum_stat,
        CAST(ROUND(ABS(sdec), 6) AS DOUBLE) AS cusum_abs
      FROM r WHERE rn = 1 ORDER BY user_id"""))

  /** Length-3 sequential-pattern support over per-user event sequences
    * ([[Behavior.sequencePatternSupport]]): (ta,tb,tc) is supported when
    * some tb event sits strictly between the user's first ta and last tc.
    */
  val seqPatternTriples: QueryDef = QueryDef(
    "seq_pattern_triples",
    (s, dir) => {
      Behavior.sequencePatternSupport(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", minSupport = 10L)
        .orderBy(col("ta"), col("tb"), col("tc"))
    },
    Some("""WITH pos AS (SELECT user_id AS u, event_type AS ty,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
        FROM events WHERE ts IS NOT NULL),
      ext AS (SELECT u, ty, MIN(p) AS mnp, MAX(p) AS mxp FROM pos GROUP BY u, ty),
      sup AS (SELECT DISTINCT m.u, a.ty AS ta, m.ty AS tb, c.ty AS tc
        FROM pos m
        JOIN ext a ON a.u = m.u AND a.mnp < m.p
        JOIN ext c ON c.u = m.u AND m.p < c.mxp)
      SELECT ta, tb, tc, CAST(COUNT(*) AS BIGINT) AS support
      FROM sup GROUP BY ta, tb, tc
      HAVING COUNT(*) >= 10
      ORDER BY ta, tb, tc"""))

  /** Multi-touch attribution ([[Behavior.attribution]]): purchases credit
    * click/view touches within the prior 7 days — linear 1/n shares
    * (decimal-exact) and last-touch — plus the 'direct' remainder.
    */
  val attributionCredit: QueryDef = QueryDef(
    "attribution_credit",
    (s, dir) => {
      Behavior.attribution(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", convType = "purchase",
        touchTypes = Seq("click", "view"), windowDays = 7)
        .orderBy(col("channel"))
    },
    Some("""WITH conv AS (SELECT user_id AS u, ts AS cts, event_id AS cid
          FROM events WHERE event_type = 'purchase'),
      tch AS (SELECT user_id AS u, ts AS tts, event_id AS tid,
          event_type AS channel
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (SELECT c.u, c.cid, t.channel, t.tts, t.tid
        FROM conv c JOIN tch t ON c.u = t.u
        WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
      cr AS (SELECT channel, u, cid,
          1.0 / CAST(COUNT(*) OVER (PARTITION BY u, cid) AS DOUBLE) AS lin,
          CASE WHEN ROW_NUMBER() OVER (PARTITION BY u, cid
              ORDER BY tts DESC, tid DESC) = 1
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS lst
        FROM j),
      pc AS (SELECT channel, u, cid,
          SUM(CAST(lin AS DECIMAL(27,10))) AS lin, MAX(lst) AS lst
        FROM cr GROUP BY channel, u, cid),
      att AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS conversions,
          CAST(ROUND(SUM(lin), 6) AS DOUBLE) AS linear_credit,
          CAST(SUM(lst) AS BIGINT) AS last_touch_credit
        FROM pc GROUP BY channel),
      direct AS (SELECT 'direct' AS channel,
          CAST(COUNT(*) AS BIGINT) AS conversions,
          CAST(COUNT(*) AS DOUBLE) AS linear_credit,
          CAST(COUNT(*) AS BIGINT) AS last_touch_credit
        FROM conv WHERE NOT EXISTS (SELECT 1 FROM j
          WHERE j.u = conv.u AND j.cid = conv.cid)
        HAVING COUNT(*) > 0)
      SELECT * FROM att UNION ALL SELECT * FROM direct ORDER BY channel"""))

  /** Per-user Theil–Sen slope of value over time ([[Stats.theilSen]]):
    * median of all pairwise slopes, per-group pair fan-out, boundary-rank
    * selection — never a global sort. Slope emitted unrounded (bit-
    * identical operands; a 6-dp round could land on a half boundary).
    */
  val tsTheilSen: QueryDef = QueryDef(
    "ts_theil_sen",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x", unix_timestamp(col("ts")))
      Stats.theilSen(ev, "user_id", "x", "event_id", "value")
        .orderBy(col("user_id"))
    },
    Some("""WITH pts AS (SELECT user_id AS g, event_id AS t,
          CAST(CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS DOUBLE) AS x,
          CAST(value AS DOUBLE) AS y
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
      n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY g),
      pairs AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS slope
        FROM pts a JOIN pts b ON a.g = b.g
        WHERE a.t < b.t AND a.x <> b.x),
      ranked AS (SELECT g, slope,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY slope) AS rn,
          COUNT(*) OVER (PARTITION BY g) AS m
        FROM pairs),
      med AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k,
          SUM(slope) AS s, CAST(MAX(m) AS BIGINT) AS n_pairs
        FROM ranked
        WHERE rn = CAST(FLOOR(CAST(m + 1 AS DOUBLE) / 2.0) AS BIGINT)
           OR rn = CAST(FLOOR(CAST(m AS DOUBLE) / 2.0) AS BIGINT) + 1
        GROUP BY g)
      SELECT n.g AS user_id, n.n,
        COALESCE(med.n_pairs, 0) AS n_pairs,
        med.s / CAST(med.k AS DOUBLE) AS slope
      FROM n LEFT JOIN med ON n.g = med.g
      ORDER BY user_id"""))

  /** Per-user interval-union coverage ([[Windows.intervalCoverage]]) over
    * synthetic event intervals (each event holds (event_id%7)+1 minutes):
    * islands, union seconds, longest island — the gaps-and-islands pass.
    */
  val intervalCoverage: QueryDef = QueryDef(
    "interval_coverage",
    (s, dir) => {
      val iv = t(s, dir, "events")
        .withColumn("iv_end",
          expr("timestampadd(MINUTE, CAST(event_id % 7 + 1 AS INT), ts)"))
      Windows.intervalCoverage(iv, "user_id", "ts", "iv_end", "event_id")
        .orderBy(col("user_id"))
    },
    Some("""WITH iv AS (SELECT user_id AS k, ts AS st, event_id AS tie,
          CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s,
          CAST(FLOOR(EPOCH(ts + (event_id % 7 + 1) * INTERVAL 1 MINUTE)) AS BIGINT) AS e
        FROM events WHERE ts IS NOT NULL),
      f AS (SELECT k, st, tie, s, e,
          MAX(e) OVER (PARTITION BY k ORDER BY st, tie
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv),
      g AS (SELECT k, s, e,
          SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) OVER
            (PARTITION BY k ORDER BY st, tie
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM f),
      isl AS (SELECT k, island, COUNT(*) AS cnt, MIN(s) AS a, MAX(e) AS b
        FROM g GROUP BY k, island)
      SELECT k AS user_id, CAST(SUM(cnt) AS BIGINT) AS n_intervals,
        CAST(COUNT(*) AS BIGINT) AS n_islands,
        CAST(SUM(b - a) AS BIGINT) AS covered_secs,
        CAST(MAX(b - a) AS BIGINT) AS longest_island_secs
      FROM isl GROUP BY k ORDER BY user_id"""))

  /** Process-mining direct-follows graph over the event log
    * ([[Behavior.processDfg]]): edge frequencies plus exact counted-median
    * / min / max transition gaps.
    */
  val processDfg: QueryDef = QueryDef(
    "process_dfg",
    (s, dir) => {
      Behavior.processDfg(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type AS to_type,
          CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t,
          LAG(event_type) OVER w AS from_type,
          LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS pt
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      ed AS (SELECT from_type, to_type, t - pt AS gap
        FROM e WHERE from_type IS NOT NULL),
      c AS (SELECT from_type, to_type, gap, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ed GROUP BY 1, 2, 3),
      r AS (SELECT from_type, to_type, gap, cnt,
          SUM(cnt) OVER (PARTITION BY from_type, to_type) AS m,
          SUM(cnt) OVER (PARTITION BY from_type, to_type ORDER BY gap
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM c)
      SELECT from_type, to_type, CAST(MAX(m) AS BIGINT) AS n,
        MIN(gap) AS min_gap_s, MAX(gap) AS max_gap_s,
        CAST(MIN(CASE WHEN cum >= CAST(FLOOR(CAST(m + 1 AS DOUBLE) / 2.0) AS BIGINT)
            THEN gap END)
          + MIN(CASE WHEN cum >= CAST(FLOOR(CAST(m AS DOUBLE) / 2.0) AS BIGINT) + 1
            THEN gap END) AS DOUBLE) / 2.0 AS median_gap_s
      FROM r GROUP BY from_type, to_type
      ORDER BY from_type, to_type"""))

  val all: Seq[QueryDef] = Seq(
    sampleStratified, sampleReservoir, funnelConversion, cohortRetention,
    sampleSplitAssign, sampleWeighted, stickiness, dqProfile, dqReferential,
    dqSkewProfile, markovTransitions, pathTopK, anomalySeasonal, abWelchZ, survivalKm,
    eventuallyFollows, dqFreshness, rfmSegments, forecastBacktest, powerUsers, kAnonymity,
    benford, candidateKeys, systematicSample, completenessMatrix, tsAcf, sampleKCenter,
    tsCusum, seqPatternTriples, attributionCredit, tsTheilSen, intervalCoverage,
    processDfg)
}
