package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** The exact-sum vocabulary and the shared Spark-side/oracle-side expression
  * pairs. Every helper exists in BOTH forms because the driver's compare is
  * an exact cross-engine hash: the Spark expression and the DuckDB SQL must
  * perform the identical arithmetic in the identical order. One definition
  * here instead of a copy per file — a change to the decimal scale, hash
  * width, or token regex now lands everywhere or nowhere.
  *
  * A double sum is accumulated as DECIMAL(27,10) ([[dec]]), a weighted term
  * as DECIMAL(32,14) ([[dec14]]): decimal addition is associative, so the
  * result does not depend on partitioning or row order. Every Spark-side
  * exact sum in graft goes through these helpers, so a faster accumulator
  * replaces their bodies and nothing else.
  */
private[graft] object Ora {

  /** The exact accumulator type of a double sum. */
  def dec(c: Column): Column = c.cast("decimal(27,10)")

  /** The exact accumulator type of a weighted (product) term: a product
    * of two 6-decimal values needs 12 decimals, which a 10-decimal
    * accumulator would round.
    */
  def dec14(c: Column): Column = c.cast("decimal(32,14)")

  /** Order-independent double sum: accumulate in DECIMAL(27,10), then cast. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(27,10))) AS DOUBLE)"

  /** [[dsum]] of weighted (product) terms, accumulated in [[dec14]]. */
  def dsum14(c: Column): Column = sum(dec14(c)).cast("double")

  /** [[dsum]] over a window frame. */
  def dsumOver(c: Column, w: WindowSpec): Column = sum(dec(c)).over(w).cast("double")

  /** Pure-sum output columns: round in DECIMAL space, THEN cast to double.
    * Rounding the already-cast double at 6 dp is 1-ULP ambiguous across
    * engines once the sum exceeds ~2^33 (observed at sf0.1); rounding the
    * exact decimal makes both engines convert the identical decimal.
    */
  def dsum6(c: Column): Column = round(sum(dec(c)), 6).cast("double")
  def dsum6Sql(expr: String): String =
    s"CAST(ROUND(SUM(CAST(($expr) AS DECIMAL(27,10))), 6) AS DOUBLE)"

  /** Coarser sibling of [[dsum6]] for LARGE-magnitude money sums: 2-dp
    * decimal rounding keeps the decimal→double cast single-rounding up to
    * |value| ≈ 9e13 (vs ≈ 9e9 at 6 dp) — the corpus-level revenue sums
    * sit at ~6e9 at sf0.1 and scale linearly, so the 6-dp form would
    * enter the probabilistic cast-divergence regime within one 10×.
    */
  def dsum2(c: Column): Column = round(sum(dec(c)), 2).cast("double")
  def dsum2Sql(expr: String): String =
    s"CAST(ROUND(SUM(CAST(($expr) AS DECIMAL(27,10))), 2) AS DOUBLE)"

  def dmean(c: Column): Column = dsum(c) / count(c)
  def dmeanSql(expr: String): String =
    s"(${dsumSql(expr)} / COUNT($expr))"

  val r6: Column => Column = (c: Column) => round(c, 6)

  def epochS(c: Column): Column = unix_timestamp(c)
  val epochSql: String => String = (e: String) => s"CAST(FLOOR(EPOCH($e)) AS BIGINT)"

  /** DuckDB mirror of TextAnalysis.md5Long (60-bit md5 prefix). */
  def md5LongSql(e: String): String =
    s"CAST(CONCAT('0x', SUBSTRING(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB mirror of TextAnalysis.tokens over the documents.text column. */
  val toksSql = "regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')"

  /** DuckDB mirror of Dedup.shingles over documents (distinct word n-grams,
    * 1-based slices).
    */
  def shinglesSql(n: Int): String =
    s"""SELECT DISTINCT doc_id, unnest([array_to_string(w[g : g + ${n - 1}], ' ')
        for g in generate_series(1, len(w) - ${n - 1})]) AS sh
        FROM (SELECT doc_id, $toksSql AS w FROM documents)"""

  /** DuckDB mirrors of Similarity.dot / norm2 / cosine — same left-assoc
    * element order as the Spark-side fold, same zero-norm NULL guard.
    * The *Arr forms take explicit array-expression strings; dotSql/normSql
    * are the table-alias convenience over the `embedding` column. ONE
    * definition for every IVF/cosine mirror, so a rounding or tie-break fix
    * lands in all of them or none.
    */
  def dotArrSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
  def normArrSql(a: String, dim: Int): String =
    (1 to dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($a[$i] AS DOUBLE)")
      .mkString(" + ")
  def dotSql(a: String, b: String, dim: Int): String =
    dotArrSql(s"$a.embedding", s"$b.embedding", dim)
  def normSql(a: String, dim: Int): String =
    normArrSql(s"$a.embedding", dim)

  /** DuckDB mirror of the brute-force cosine top-k over embeddings
    * (queries = vec_id < maxQid, self-pairs excluded, ranked by rounded
    * cosine DESC then candidate id). Shared by the window/aggregator
    * variants and the recall evaluator's exact side — three oracles, one
    * ranking definition. No trailing ORDER BY: callers append their own.
    */
  def bruteForceTopKSql(maxQid: Int, k: Int, dim: Int): String =
    s"""SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM (
        SELECT qid, vb, cos,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cos DESC, vb) AS rank
        FROM (SELECT q.vec_id AS qid, c.vec_id AS vb,
            ROUND((${dotSql("q", "c", dim)}) /
              (SQRT(${normSql("q", dim)}) * SQRT(${normSql("c", dim)})), 6) AS cos
          FROM embeddings q JOIN embeddings c
            ON q.vec_id < $maxQid AND c.vec_id <> q.vec_id))
      WHERE rank <= $k"""

  /** DuckDB mirror of ivfTopK's decimal-mean centroid stage: the c1..c`dim`
    * select list, and the query→centroid dot/norm over those columns.
    */
  def centMeanSql(vecExpr: String, dim: Int): String =
    (1 to dim).map(i =>
      s"CAST(SUM(CAST(CAST($vecExpr[$i] AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c$i")
      .mkString(", ")
  def centDotSql(q: String, dim: Int): String =
    (1 to dim).map(i => s"CAST($q[$i] AS DOUBLE) * c$i").mkString(" + ")
  def centNormSql(dim: Int): String =
    (1 to dim).map(i => s"c$i * c$i").mkString(" + ")
  def cosineSql(a: String, b: String, dim: Int): String =
    s"""CASE WHEN SQRT(${normSql(a, dim)}) * SQRT(${normSql(b, dim)}) > 0
        THEN (${dotSql(a, b, dim)})
             / (SQRT(${normSql(a, dim)}) * SQRT(${normSql(b, dim)})) END"""

  /** DuckDB mirror of Glm.logisticIrls's unrolled Newton steps — the CTE
    * chain p$i/q$i/m$i/bet$i over a caller-supplied `base(y, x1, x2, …)`
    * and `bet0` relation. ONE definition (used by the GLM coefficient
    * gate AND the quality-classifier pipeline) so the Cramer cofactor
    * order and the 9-dp sigmoid round cannot drift between mirrors.
    */
  def irlsStepsSql(iters: Int): String = {
    (1 to iters).map { i =>
      s"""p$i AS (SELECT y, x1, x2,
          ROUND(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * x1 + b.b2 * x2))), 9) AS p
          FROM base CROSS JOIN bet${i - 1} b),
        q$i AS (SELECT y, x1, x2, p, p * (1.0 - p) AS w FROM p$i),
        m$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          ${dsumSql("w")} AS a11, ${dsumSql("w * x1")} AS a12,
          ${dsumSql("w * x2")} AS a13, ${dsumSql("w * x1 * x1")} AS a22,
          ${dsumSql("w * x1 * x2")} AS a23, ${dsumSql("w * x2 * x2")} AS a33,
          ${dsumSql("y - p")} AS g1, ${dsumSql("(y - p) * x1")} AS g2,
          ${dsumSql("(y - p) * x2")} AS g3
          FROM q$i),
        bet$i AS (SELECT m.n,
          b.b0 + (m.g1 * (m.a22 * m.a33 - m.a23 * m.a23) -
            m.a12 * (m.g2 * m.a33 - m.a23 * m.g3) +
            m.a13 * (m.g2 * m.a23 - m.a22 * m.g3)) /
            (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23) -
             m.a12 * (m.a12 * m.a33 - m.a23 * m.a13) +
             m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)) AS b0,
          b.b1 + (m.a11 * (m.g2 * m.a33 - m.a23 * m.g3) -
            m.g1 * (m.a12 * m.a33 - m.a23 * m.a13) +
            m.a13 * (m.a12 * m.g3 - m.g2 * m.a13)) /
            (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23) -
             m.a12 * (m.a12 * m.a33 - m.a23 * m.a13) +
             m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)) AS b1,
          b.b2 + (m.a11 * (m.a22 * m.g3 - m.g2 * m.a23) -
            m.a12 * (m.a12 * m.g3 - m.g2 * m.a13) +
            m.g1 * (m.a12 * m.a23 - m.a22 * m.a13)) /
            (m.a11 * (m.a22 * m.a33 - m.a23 * m.a23) -
             m.a12 * (m.a12 * m.a33 - m.a23 * m.a13) +
             m.a13 * (m.a12 * m.a23 - m.a22 * m.a13)) AS b2
          FROM m$i m CROSS JOIN bet${i - 1} b)"""
    }.mkString(",\n        ")
  }

  /** DuckDB mirror of ivfTopK over the label-centroid quantizer: decimal
    * element-wise centroid means, nprobe probe ranking, in-cell cosine
    * ranking — ONE definition shared by the unfiltered and filtered
    * search mirrors so the tie-breaks/rounding/guards cannot drift apart.
    * `extraCandPred` is AND-ed into the candidate scan (filtered ANN).
    * Zero-norm guards mirror the Scala side's NULL-cosine drops exactly:
    * without them a degenerate all-zero centroid would still get a probe
    * rank (DuckDB ROW_NUMBER orders NULLs) while ivfTopK's
    * `.filter(ccos.isNotNull)` probes fewer cells.
    */
  def ivfLabelSql(maxQid: Int, k: Int, nprobe: Int, dim: Int,
                  extraCandPred: String = ""): String = {
    val centCols = centMeanSql("embedding", dim)
    val qcDot = centDotSql("qv", dim)
    val cNorm = centNormSql(dim)
    val qNorm = normArrSql("qv", dim)
    val qeDot = dotArrSql("qv", "e.embedding", dim)
    val eNorm = normArrSql("e.embedding", dim)
    val pred = if (extraCandPred.nonEmpty) s" AND $extraCandPred" else ""
    s"""WITH cent AS (SELECT label, $centCols FROM embeddings GROUP BY label),
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < $maxQid),
      probes AS (SELECT qid, qv, label FROM (
          SELECT q.qid, q.qv, cent.label,
            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
              ($qcDot) / (SQRT($qNorm) * SQRT($cNorm)) DESC, cent.label) AS prn
          FROM q CROSS JOIN cent
          WHERE SQRT($qNorm) * SQRT($cNorm) > 0)
        WHERE prn <= $nprobe),
      scored AS (SELECT qid, vb, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS rank
        FROM (SELECT p.qid, e.vec_id AS vb,
            ROUND(($qeDot) / (SQRT($qNorm) * SQRT($eNorm)), 6) AS cos
          FROM probes p JOIN embeddings e ON e.label = p.label
          WHERE e.vec_id <> p.qid$pred
            AND SQRT($qNorm) * SQRT($eNorm) > 0))
      SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM scored
      WHERE rank <= $k ORDER BY qid, rank"""
  }
}
