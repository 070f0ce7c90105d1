package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Ora
import graft.llm.Dedup

/** Sketch queries: Count-Min, HyperLogLog, KMV, Bloom-filter pruning,
  * quantile histograms and the MinHash estimator's calibration.
  */
object SketchQueries {

  /** Count-min sketch heavy hitters: the d×w cell build AND the min-over-
    * rows probe both under the hash gate; exact counts ride along to pin
    * the overestimate bound (est ≥ exact by construction).
    */
  val sketchCmsTopk: QueryDef = {
    val d = 3; val w = 256; val k = 20
    val js = (0 until d).mkString("[", ", ", "]")
    def bSql(tokExpr: String): String =
      s"${Ora.md5LongSql(s"'cms' || CAST(j AS VARCHAR) || ':' || $tokExpr")} % $w"
    QueryDef(
      "sketch_cms_topk",
      (s, dir) => graft.operators.Sketch.cmsTopK(
          t(s, dir, "documents"), "text", d = d, width = w, k = k)
        .orderBy(col("rank")),
      Some(s"""WITH tok AS (SELECT unnest(${Ora.toksSql}) AS tok FROM documents),
        cand AS MATERIALIZED (SELECT tok, COUNT(*) AS exact_cnt
          FROM tok GROUP BY tok),
        js AS (SELECT unnest($js) AS j),
        pr AS MATERIALIZED (SELECT tok, exact_cnt, j, ${bSql("tok")} AS b
          FROM cand CROSS JOIN js),
        cells AS (SELECT j, b, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
          FROM pr GROUP BY 1, 2),
        est AS (SELECT p.tok, ANY_VALUE(p.exact_cnt) AS exact_cnt,
            MIN(c.cnt) AS est_cnt
          FROM pr p JOIN cells c USING (j, b) GROUP BY p.tok),
        r AS (SELECT tok, est_cnt, exact_cnt,
            ROW_NUMBER() OVER (ORDER BY est_cnt DESC, tok) AS rank FROM est)
      SELECT CAST(rank AS INT) AS rank, tok, est_cnt, exact_cnt
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Bloom-filter pruning: blocklist slice (doc_id % 7 = 0) builds the
    * bit set; every other document's vocabulary probes it. The exact
    * membership column rides along, pinning the no-false-negative
    * contract under the hash gate (and the false positives that DO occur
    * at 1024 bits are pinned too — same hashes, same collisions).
    */
  val sketchBloomPrune: QueryDef = {
    val mBits = 1024; val d = 3
    val js = (0 until d).mkString("[", ", ", "]")
    def bitSql(tokExpr: String): String =
      s"${Ora.md5LongSql(s"'bloom' || CAST(j AS VARCHAR) || ':' || $tokExpr")} % $mBits"
    QueryDef(
      "sketch_bloom_prune",
      (s, dir) => {
        val dd = t(s, dir, "documents")
        def toks(p: DataFrame) =
          p.select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
        graft.operators.Sketch.bloomPrune(
            toks(dd.filter(col("doc_id") % 7 === 0)), "tok",
            toks(dd.filter(col("doc_id") % 7 =!= 0)), "tok",
            mBits = mBits, d = d)
          .orderBy(col("tok"))
      },
      Some(s"""WITH ex AS MATERIALIZED (SELECT DISTINCT tok FROM
          (SELECT unnest(${Ora.toksSql}) AS tok
           FROM documents WHERE doc_id % 7 = 0)),
        pt AS MATERIALIZED (SELECT DISTINCT tok FROM
          (SELECT unnest(${Ora.toksSql}) AS tok
           FROM documents WHERE doc_id % 7 <> 0)),
        js AS (SELECT unnest($js) AS j),
        bits AS MATERIALIZED (SELECT DISTINCT ${bitSql("tok")} AS bit
          FROM ex CROSS JOIN js),
        pm AS MATERIALIZED (SELECT DISTINCT tok, ${bitSql("tok")} AS bit
          FROM pt CROSS JOIN js),
        np AS (SELECT tok, COUNT(*) AS npos FROM pm GROUP BY tok),
        hits AS (SELECT tok, COUNT(*) AS nh
          FROM pm JOIN bits USING (bit) GROUP BY tok)
      SELECT p.tok, COALESCE(h.nh, 0) = np.npos AS maybe_member,
        (e.tok IS NOT NULL) AS is_member
      FROM pt p JOIN np USING (tok) LEFT JOIN hits h USING (tok)
      LEFT JOIN ex e ON e.tok = p.tok ORDER BY p.tok"""))
  }

  /** HyperLogLog per-group distinct estimate (m = 64 registers) with the
    * exact count alongside; the register ranks come from the md5 hash's
    * minimal binary string (identical on both engines) and the harmonic
    * sum accumulates as exact shifted integers.
    */
  val sketchHllDistinct: QueryDef = {
    val m = 64
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val scale = math.pow(2.0, 55) * alpha * m * m
    val hSql = Ora.md5LongSql("'hll:' || CAST(user_id AS VARCHAR)")
    QueryDef(
      "sketch_hll_distinct",
      (s, dir) => graft.operators.Sketch.hllDistinct(
          t(s, dir, "events"), "event_type", "user_id", m = m)
        .orderBy(col("event_type")),
      Some(s"""WITH du AS MATERIALIZED (
          SELECT DISTINCT event_type, user_id FROM events),
        h AS (SELECT event_type, $hSql AS h FROM du),
        regs AS (SELECT event_type, h % $m AS b,
            CASE WHEN (h >> 6) > 0 THEN 55 - LENGTH(bin(h >> 6))
                 ELSE 55 END AS rho
          FROM h),
        mx AS MATERIALIZED (SELECT event_type, b, MAX(rho) AS mb
          FROM regs GROUP BY 1, 2),
        dom AS (SELECT unnest(generate_series(0, ${m - 1})) AS b),
        gs AS (SELECT DISTINCT event_type FROM du),
        filled AS (SELECT g.event_type, d.b, COALESCE(mx.mb, 0) AS mb
          FROM gs g CROSS JOIN dom d
          LEFT JOIN mx ON mx.event_type = g.event_type AND mx.b = d.b),
        sm AS (SELECT event_type,
            CAST(SUM(CAST(1 AS BIGINT) << (55 - mb)) AS BIGINT) AS s
          FROM filled GROUP BY 1),
        ex AS (SELECT event_type, CAST(COUNT(user_id) AS BIGINT) AS exact_distinct
          FROM du GROUP BY 1)
      SELECT sm.event_type,
        ROUND(CAST(${scale.toString} AS DOUBLE) / CAST(sm.s AS DOUBLE), 6)
          AS est_distinct,
        ex.exact_distinct
      FROM sm JOIN ex USING (event_type) ORDER BY event_type"""))
  }

  /** KMV sketch set operations over the two lineitem halves' order-key
    * domains (heavily overlapping — the interesting intersection case).
    * All four rows (left/right/union/intersect estimates + exact truths)
    * under one hash gate.
    */
  val sketchKmvSetops: QueryDef = {
    val k = 256
    val numer = (k - 1).toDouble * math.pow(2.0, 60)
    val numSql = s"CAST(${numer.toString} AS DOUBLE)"
    val hSql = Ora.md5LongSql("'kmv:' || CAST(l_orderkey AS VARCHAR)")
    def sideSql(tag: String, sk: String, pred: String): String =
      s"""SELECT '$tag' AS side, CAST(n AS BIGINT) AS n_sketch,
        CASE WHEN n < $k THEN CAST(n AS DOUBLE)
             ELSE ROUND($numSql / CAST(mx AS DOUBLE), 6) END AS est_distinct,
        (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
           FROM lineitem WHERE $pred) AS exact_distinct
      FROM (SELECT COUNT(*) AS n, MAX(h) AS mx FROM $sk)"""
    QueryDef(
      "sketch_kmv_setops",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        graft.operators.Sketch.kmvSetOps(
            li.filter(col("l_linenumber") % 2 === 1),
            li.filter(col("l_linenumber") % 2 === 0),
            "l_orderkey", k = k)
          .orderBy(col("side"))
      },
      Some(s"""WITH lh AS MATERIALIZED (SELECT DISTINCT $hSql AS h
          FROM lineitem WHERE l_linenumber % 2 = 1),
        rh AS MATERIALIZED (SELECT DISTINCT $hSql AS h
          FROM lineitem WHERE l_linenumber % 2 = 0),
        lk AS (SELECT h FROM lh ORDER BY h LIMIT $k),
        rk AS (SELECT h FROM rh ORDER BY h LIMIT $k),
        uk AS MATERIALIZED (SELECT h FROM
          (SELECT h FROM lh UNION SELECT h FROM rh) ORDER BY h LIMIT $k),
        bth AS (SELECT u.h FROM uk u JOIN lh USING (h) JOIN rh USING (h)),
        inter AS (SELECT 'intersect' AS side, CAST(nb AS BIGINT) AS n_sketch,
          CASE WHEN nu < $k THEN CAST(nb AS DOUBLE)
               ELSE ROUND((CAST(nb AS DOUBLE) / $k) *
                          ($numSql / CAST(mxu AS DOUBLE)), 6) END AS est_distinct,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linenumber % 2 = 1) a
            JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                  WHERE l_linenumber % 2 = 0) b USING (l_orderkey))
            AS exact_distinct
          FROM (SELECT COUNT(*) AS nu, MAX(h) AS mxu FROM uk)
          CROSS JOIN (SELECT COUNT(*) AS nb FROM bth))
      ${sideSql("left", "lk", "l_linenumber % 2 = 1")}
      UNION ALL ${sideSql("right", "rk", "l_linenumber % 2 = 0")}
      UNION ALL SELECT 'union' AS side, CAST(n AS BIGINT) AS n_sketch,
        CASE WHEN n < $k THEN CAST(n AS DOUBLE)
             ELSE ROUND($numSql / CAST(mx AS DOUBLE), 6) END AS est_distinct,
        (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
          AS exact_distinct
      FROM (SELECT COUNT(*) AS n, MAX(h) AS mx FROM uk)
      UNION ALL SELECT * FROM inter
      ORDER BY side"""))
  }

  /** MinHash estimator calibration: for every LSH-verified near-dup pair,
    * the k=16 signature agreement (the Jaccard ESTIMATE the sketch
    * offers) against the exact Jaccard — the error column is the number
    * that justifies (or indicts) a chosen k at scale.
    */
  val minhashError: QueryDef = {
    val k = 16
    QueryDef(
      "sketch_minhash_error",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = DedupQueries.minhashPairsShared(s, dir)
        val sig = Dedup.minhashSignature(
          Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", k)
        val sa = sig.toDF(sig.columns.map(c =>
          if (c == "doc_id") "da" else s"a_$c"): _*)
        val sb = sig.toDF(sig.columns.map(c =>
          if (c == "doc_id") "db" else s"b_$c"): _*)
        val agree = (0 until k).map(i =>
            when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
          .reduceLeft(_ + _)
        val est = round(agree.cast("double") / lit(k.toDouble), 6)
        pairs.join(sa, Seq("da")).join(sb, Seq("db"))
          .select(col("da"), col("db"), col("jac"), est.as("jac_est"),
            round(abs(col("jac") - est), 6).as("abs_err"))
          .orderBy(col("da"), col("db"))
      },
      Some(s"""WITH sh AS MATERIALIZED (${Ora.shinglesSql(3)}),
        hm AS (SELECT doc_id, sh, ${Ora.md5LongSql("sh")} % 1000000007 AS hm
          FROM sh),
        params AS (SELECT g AS i, (654435747 * (g + 1)) % 1000000007 AS a,
          (654602297 * (g + 1)) % 1000000007 AS b
          FROM generate_series(0, ${k - 1}) t(g)),
        mh AS MATERIALIZED (SELECT doc_id, i,
          MIN((a * hm + b) % 1000000007) AS mh
          FROM hm CROSS JOIN params GROUP BY 1, 2),
        sig AS (SELECT doc_id, i // 4 AS band,
          string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
          FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
            AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        common AS (SELECT c.da, c.db, COUNT(*) AS c
          FROM cand c JOIN sh a ON a.doc_id = c.da
            JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
          GROUP BY 1, 2),
        j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
          FROM common JOIN sizes sa ON da = sa.doc_id
            JOIN sizes sb ON db = sb.doc_id),
        keep AS MATERIALIZED (SELECT da, db, jac FROM j WHERE jac >= 0.5),
        est AS (SELECT kp.da, kp.db,
          ROUND(CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
            AS DOUBLE) / ${k}.0, 6) AS jac_est
          FROM keep kp JOIN mh ma ON ma.doc_id = kp.da
            JOIN mh mb ON mb.doc_id = kp.db AND mb.i = ma.i
          GROUP BY 1, 2)
      SELECT k.da, k.db, k.jac, e.jac_est,
        ROUND(ABS(k.jac - e.jac_est), 6) AS abs_err
      FROM keep k JOIN est e ON e.da = k.da AND e.db = k.db
      ORDER BY k.da, k.db"""))
  }

  /** Mergeable histogram quantile sketch ([[graft.operators.Sketch
    * .histQuantiles]]) — the quantile member of the sketch family,
    * estimate + exact + a-priori error bound all under one hash gate.
    * sqrt-binned (IEEE sqrt is exactly rounded → bins are bit-identical
    * cross-engine), O(bins) map-combinable state per group; the exact
    * side is the at-rank order statistic via PARTITIONED windows, one
    * sort for all ps (conditional aggregates + stack, not one replay
    * per p); within_bound asserts |est − exact| ≤ the hit bin's width,
    * valid a priori because `saturated` (also gated) is false — no value
    * clamped past the top bin edge (bins/bpu)² = 1024.
    */
  val sketchQuantileHist: QueryDef = {
    val ps = Seq(0.5, 0.9, 0.99)
    val bins = 128; val bpu = 4.0
    QueryDef(
      "sketch_quantile_hist",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events")
          .filter(col("value").isNotNull &&
            !isnan(col("value").cast("double")) &&
            col("value").cast("double") >= 0.0)
        val est = graft.operators.Sketch.histQuantiles(
          ev, "event_type", "value", ps, bins = bins, binsPerUnit = bpu)
        val ranked = ev
          .select(col("event_type"), col("value").cast("double").as("v"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("v"))))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("event_type"))))
        val exAggs = ps.zipWithIndex.map { case (p, i) =>
          max(when(col("rn") === ceil(lit(p) * col("n")), col("v")))
            .as(s"__x$i")
        }
        val exAggd = ranked.groupBy(col("event_type"))
          .agg(exAggs.head, exAggs.tail: _*)
        val stackArgs = ps.zipWithIndex.map { case (p, i) =>
          s"CAST(${p} AS DOUBLE), __x$i"
        }.mkString(", ")
        val exacts = exAggd.select(col("event_type"),
          expr(s"stack(${ps.size}, $stackArgs) AS (p, exact_q)"))
        est.join(exacts, Seq("event_type", "p"))
          .select(col("event_type"), col("p"),
            round(col("est_q"), 6).as("est_q"), col("exact_q"),
            round(abs(col("est_q") - col("exact_q")), 6).as("abs_err"),
            (abs(col("est_q") - col("exact_q")) <=
              (col("bin_hi") - col("bin_lo"))).as("within_bound"),
            col("saturated"))
          .orderBy(col("event_type"), col("p"))
      },
      Some {
        def estP(p: Double): String =
          s"""SELECT event_type, CAST($p AS DOUBLE) AS p,
            (CAST(bin AS DOUBLE) / $bpu) * (CAST(bin AS DOUBLE) / $bpu) +
            (((CAST(bin AS DOUBLE) + 1.0) / $bpu) *
               ((CAST(bin AS DOUBLE) + 1.0) / $bpu) -
             (CAST(bin AS DOUBLE) / $bpu) * (CAST(bin AS DOUBLE) / $bpu)) *
            ((CAST(CEIL($p * n) AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) /
              CAST(cnt AS DOUBLE)) AS est_q,
            (CAST(bin AS DOUBLE) / $bpu) * (CAST(bin AS DOUBLE) / $bpu)
              AS bin_lo,
            ((CAST(bin AS DOUBLE) + 1.0) / $bpu) *
              ((CAST(bin AS DOUBLE) + 1.0) / $bpu) AS bin_hi,
            sat AS sat
          FROM cum
          WHERE CAST(cum AS DOUBLE) >= CAST(CEIL($p * n) AS DOUBLE)
            AND CAST(cum - cnt AS DOUBLE) < CAST(CEIL($p * n) AS DOUBLE)"""
        def exP(p: Double): String =
          s"""SELECT event_type, CAST($p AS DOUBLE) AS p,
            MAX(CASE WHEN rn = CEIL($p * n) THEN v END) AS exact_q
          FROM ranked GROUP BY 1"""
        s"""WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))
              AND CAST(value AS DOUBLE) >= 0.0),
          b AS (SELECT event_type,
              CAST(GREATEST(FLOOR(LEAST(SQRT(v) * $bpu,
                ${(bins - 1).toDouble})), 0) AS INT) AS bin,
              CASE WHEN SQRT(v) * $bpu >= ${bins.toDouble}
                THEN 1 ELSE 0 END AS cl
            FROM ev),
          cnts AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
              MAX(cl) AS clb
            FROM b GROUP BY 1, 2),
          cum AS (SELECT event_type, bin, cnt,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
              SUM(cnt) OVER (PARTITION BY event_type) AS n,
              MAX(clb) OVER (PARTITION BY event_type) AS sat
            FROM cnts),
          est AS (${ps.map(estP).mkString("\n            UNION ALL ")}),
          ranked AS (SELECT event_type, v,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
              COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM ev),
          ex AS (${ps.map(exP).mkString("\n            UNION ALL ")})
        SELECT e.event_type, e.p, ROUND(e.est_q, 6) AS est_q, x.exact_q,
          ROUND(ABS(e.est_q - x.exact_q), 6) AS abs_err,
          ABS(e.est_q - x.exact_q) <= (e.bin_hi - e.bin_lo) AS within_bound,
          e.sat = 1 AS saturated
        FROM est e JOIN ex x ON x.event_type = e.event_type AND x.p = e.p
        ORDER BY e.event_type, e.p"""
      })
  }

  val all: Seq[QueryDef] = Seq(
    sketchCmsTopk, sketchBloomPrune, sketchHllDistinct, sketchKmvSetops, minhashError,
    sketchQuantileHist)
}
