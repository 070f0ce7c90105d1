package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Core
import graft.llm.{GraphAnn, Similarity, TextAnalysis}

/** Similarity-search queries: brute-force and aggregated top-k, IVF, PQ
  * and IVF-PQ indexes, graph (NSW/HNSW) beam search, quantization,
  * Matryoshka recall, filtered search and reranking.
  */
object SimsearchQueries {

  import Ora._

  /** Brute-force cosine top-k for the first 10 vectors as queries. */
  val simsearchTopK: QueryDef = QueryDef(
    "simsearch_bruteforce_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim = 64, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"${bruteForceTopKSql(10, 5, 64)} ORDER BY qid, rank"))

  /** Brute-force top-k through the bounded TopK aggregator — same oracle as
    * the window variant (results are identical); the plan shuffles |Q|×k
    * partial buffers instead of every scored pair.
    */
  val simsearchTopKAgg: QueryDef = QueryDef(
    "simsearch_topk_agg",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim = 64, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"${bruteForceTopKSql(10, 5, 64)} ORDER BY qid, rank"),
    memBound = true)

  /** IVF-style ANN (coarse quantizer = label centroids, nprobe=3). Fully
    * oracle-mirrored: centroids are decimal-accumulated elementwise means
    * (order-independent), probe ranking and the in-cell search both
    * tie-break deterministically, so DuckDB reproduces the exact result.
    */
  val simsearchIvf: QueryDef = QueryDef(
    "simsearch_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", dim = 64, k = 5, nprobe = 3)
        .orderBy(col("qid"), col("rank"))
    },
    Some(Ora.ivfLabelSql(maxQid = 10, k = 5, nprobe = 3, dim = 64)))

  /** Similarity at scale: IVF with a LEARNED coarse quantizer — a
    * deterministic Lloyd k-means fit (seed-vector init, 2 assignment /
    * recompute rounds, [[graft.llm.Similarity.lloydAssign]]) followed by
    * the nprobe=2 IVF search. RNG-free, so the ENTIRE quantizer training
    * + assignment + search pipeline hash-matches the unrolled DuckDB
    * mirror (the ml_logreg_irls training-as-a-query precedent) — this was
    * the last no_oracle similarity row. The MLlib-KMeans variant
    * ([[graft.llm.Similarity.kmeansPartitions]]) keeps its recall spec in
    * LlmSpec; its seeded random init is engine-local and stays unmirrored.
    */
  val simsearchKmeans: QueryDef = QueryDef(
    "simsearch_ivf_kmeans",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      // materialize the cell assignment once: ivfTopK reads it three times
      // (centroids, query side, search side) and each read would otherwise
      // re-run the Lloyd rounds; this is the in-memory analogue of the
      // persisted saveIndex layout
      val cells = Similarity.lloydAssign(emb, "vec_id", "embedding",
          seeds, "cell", "cv", dim = 64, iters = 2)
        .localCheckpoint()
      Similarity.ivfTopK(cells, cells.filter(col("vec_id") < 10),
          "vec_id", "embedding", "ivf_cell", dim = 64, k = 5, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
    Some {
      val centCols = Ora.centMeanSql("e.embedding", 64)
      val qcDot = Ora.centDotSql("qv", 64)
      val eDot = Ora.centDotSql("e.embedding", 64)
      val cNorm = Ora.centNormSql(64)
      val qNorm = Ora.normArrSql("qv", 64)
      val eNorm = Ora.normArrSql("e.embedding", 64)
      s"""WITH sd AS MATERIALIZED (SELECT vec_id AS cell, embedding AS cv
            FROM embeddings WHERE vec_id < 8),
        asn1 AS MATERIALIZED (SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                (${Ora.dotArrSql("e.embedding", "s.cv", 64)}) /
                (SQRT($eNorm) * SQRT(${Ora.normArrSql("s.cv", 64)})) DESC,
                s.cell) AS rn
            FROM embeddings e CROSS JOIN sd s
            WHERE SQRT($eNorm) * SQRT(${Ora.normArrSql("s.cv", 64)}) > 0)
          WHERE rn = 1),
        cent1 AS MATERIALIZED (SELECT a.cell, $centCols
          FROM embeddings e JOIN asn1 a USING (vec_id) GROUP BY a.cell),
        asn2 AS MATERIALIZED (SELECT vec_id, cell AS ivf_cell FROM (
            SELECT e.vec_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ($eDot) / (SQRT($eNorm) * SQRT($cNorm)) DESC, c.cell) AS rn
            FROM embeddings e CROSS JOIN cent1 c
            WHERE SQRT($eNorm) * SQRT($cNorm) > 0)
          WHERE rn = 1),
        cent AS (SELECT a.ivf_cell, $centCols
          FROM embeddings e JOIN asn2 a USING (vec_id)
          GROUP BY a.ivf_cell),
        q AS (SELECT e.vec_id AS qid, e.embedding AS qv
          FROM embeddings e JOIN asn2 a USING (vec_id)
          WHERE e.vec_id < 10),
        probes AS (SELECT qid, qv, ivf_cell FROM (
            SELECT q.qid, q.qv, cent.ivf_cell,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ($qcDot) / (SQRT($qNorm) * SQRT($cNorm)) DESC,
                cent.ivf_cell) AS prn
            FROM q CROSS JOIN cent)
          WHERE prn <= 2),
        scored AS (SELECT qid, vb, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS rank
          FROM (SELECT p.qid, e.vec_id AS vb,
              ROUND((${Ora.dotArrSql("p.qv", "e.embedding", 64)}) /
                (SQRT(${Ora.normArrSql("p.qv", 64)}) *
                 SQRT(${Ora.normArrSql("e.embedding", 64)})), 6) AS cos
            FROM probes p
            JOIN asn2 a ON a.ivf_cell = p.ivf_cell
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE e.vec_id <> p.qid))
      SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM scored
      WHERE rank <= 5 ORDER BY qid, rank"""
    })

  /** Hybrid retrieval: lexical BM25 candidate generation (top 50) reranked
    * by embedding cosine against a query vector — the canonical two-stage
    * retrieval shape. Stage 1's stats relations broadcast and its top-50 is
    * TakeOrderedAndProject; stage 2 joins the 50 candidates (broadcast)
    * against the embedding table and reranks — the full corpus is never
    * scored by the vector stage.
    */
  val hybridRerank: QueryDef = QueryDef(
    "hybrid_rerank",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val cand = TextAnalysis.bm25(docs, "doc_id", "text",
          terms = Seq("hash", "merge", "scan"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      broadcast(cand)
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding").as("ev")),
              Seq("doc_id"))
        .crossJoin(broadcast(qv))
        .withColumn("cos", round(Similarity.cosine("qv", "ev", 64), 6))
        .select(col("doc_id"), col("bm25"), col("cos"))
        .orderBy(col("cos").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""WITH dl AS (SELECT doc_id, CAST(LEN($toksSql) AS DOUBLE) AS dl
        FROM documents),
      corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus, AVG(dl) AS avgdl
        FROM dl),
      tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
        WHERE tok IN ('hash', 'merge', 'scan') GROUP BY 1, 2),
      dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      cand AS (SELECT t.doc_id,
          ROUND(SUM(LN(1.0 + (c.n_corpus - d.df + 0.5) / (d.df + 0.5))
            * (t.tf * (1.2 + 1.0))
            / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl))), 6) AS bm25
        FROM tf t JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
          CROSS JOIN corpus c
        GROUP BY t.doc_id ORDER BY bm25 DESC, t.doc_id LIMIT 50),
      q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      SELECT cand.doc_id, cand.bm25,
        ROUND(${cosineSql("q", "e", 64)}, 6) AS cos
      FROM cand
      JOIN embeddings e ON cand.doc_id = e.vec_id
      CROSS JOIN q
      ORDER BY cos DESC, cand.doc_id LIMIT 10"""))

  /** The IVF pipeline with a DETERMINISTIC coarse quantizer: fixed seed
    * centroids (the first 8 corpus vectors), [[Similarity.assignCells]]
    * nearest-centroid assignment, then the same [[Similarity.ivfTopK]]
    * search stage `simsearch_ivf_kmeans` runs — proving the whole
    * assign→probe→search path against the exact DuckDB mirror. Only the
    * KMeans FIT is unmirrorable; it is exactly the piece swapped out here.
    */
  val simsearchIvfFixed: QueryDef = QueryDef(
    "simsearch_ivf_fixed",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      // materialize the assignment once: ivfTopK reads its corpus three
      // times (centroids, query side, search side) — same move as the
      // kmeans variant's localCheckpoint
      val cells = Similarity.assignCells(emb, "vec_id", "embedding",
          seeds, "cell", "cv", dim = 64)
        .localCheckpoint()
      Similarity.ivfTopK(cells, cells.filter(col("vec_id") < 10),
          "vec_id", "embedding", "ivf_cell", dim = 64, k = 5, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH $ivfFixedCtes
        SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM scored
        WHERE rank <= 5 ORDER BY qid, rank"""))

  /** The WITH-chain both IVF-fixed mirrors share (assignment → centroids →
    * probes → scored ranking); ONE definition so the search mirror and the
    * recall evaluator cannot drift apart.
    */
  /** The fixed-seed quantizer assignment (seeds → nearest-centroid asn) that
    * every deterministic-quantizer mirror shares: the IVF-fixed search, the
    * recall evaluator, and the SemDeDup pruning.
    */
  private[queries] lazy val fixedAsnCtes: String =
    s"""seeds AS MATERIALIZED (SELECT vec_id AS cell, embedding AS cv
            FROM embeddings WHERE vec_id < 8),
        asn AS MATERIALIZED (SELECT vec_id, cell AS ivf_cell FROM (
            SELECT e.vec_id, s.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                (${dotArrSql("e.embedding", "s.cv", 64)}) /
                (SQRT(${normArrSql("e.embedding", 64)}) * SQRT(${normArrSql("s.cv", 64)})) DESC,
                s.cell) AS rn
            FROM embeddings e CROSS JOIN seeds s
            WHERE SQRT(${normArrSql("e.embedding", 64)}) * SQRT(${normArrSql("s.cv", 64)}) > 0)
          WHERE rn = 1)"""

  private lazy val ivfFixedCtes: String = {
      val centCols = centMeanSql("e.embedding", 64)
      val qcDot = centDotSql("qv", 64)
      val cNorm = centNormSql(64)
      val qNorm = normArrSql("qv", 64)
      s"""$fixedAsnCtes,
        cent AS (SELECT a.ivf_cell, $centCols
          FROM embeddings e JOIN asn a ON a.vec_id = e.vec_id
          GROUP BY a.ivf_cell),
        q AS (SELECT e.vec_id AS qid, e.embedding AS qv
          FROM embeddings e JOIN asn a ON a.vec_id = e.vec_id
          WHERE e.vec_id < 10),
        probes AS (SELECT qid, qv, ivf_cell FROM (
            SELECT q.qid, q.qv, cent.ivf_cell,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ($qcDot) / (SQRT($qNorm) * SQRT($cNorm)) DESC, cent.ivf_cell) AS prn
            FROM q CROSS JOIN cent)
          WHERE prn <= 2),
        scored AS (SELECT qid, vb, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS rank
          FROM (SELECT p.qid, e.vec_id AS vb,
              ROUND((${dotArrSql("p.qv", "e.embedding", 64)}) /
                (SQRT(${normArrSql("p.qv", 64)}) * SQRT(${normArrSql("e.embedding", 64)})), 6) AS cos
            FROM probes p
            JOIN asn a ON a.ivf_cell = p.ivf_cell
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE e.vec_id <> p.qid))"""
  }

  /** ANN recall@k as a first-class measured number: the deterministic IVF
    * pipeline's top-5 vs the exact brute-force top-5 on the same queries —
    * the FAISS-bench quality metric, fully oracle-mirrored (the recall math
    * AND both result sets).
    */
  val simsearchRecall: QueryDef = QueryDef(
    "simsearch_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      val cells = Similarity.assignCells(emb, "vec_id", "embedding",
          seeds, "cell", "cv", dim = 64)
        .localCheckpoint()
      val approx = Similarity.ivfTopK(cells, cells.filter(col("vec_id") < 10),
        "vec_id", "embedding", "ivf_cell", dim = 64, k = 5, nprobe = 2)
      val exact = Similarity.bruteForceTopKAgg(emb, queries,
        "vec_id", "embedding", dim = 64, k = 5)
      Similarity.recallAtK(approx, exact).orderBy(col("qid"))
    },
    Some(s"""WITH $ivfFixedCtes,
      approx AS (SELECT qid, vb FROM scored WHERE rank <= 5),
      exact AS MATERIALIZED (SELECT qid, vb FROM (${Ora.bruteForceTopKSql(10, 5, 64)})),
      hit AS (SELECT e.qid, COUNT(*) AS n_hit
        FROM exact e JOIN approx a ON a.qid = e.qid AND a.vb = e.vb
        GROUP BY e.qid),
      ex AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY qid)
      SELECT ex.qid, ex.n_exact, COALESCE(hit.n_hit, 0) AS n_hit,
        ROUND(CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN hit ON hit.qid = ex.qid ORDER BY ex.qid"""))

  /** Int8 embedding quantization, flattened to (vec_id, pos, qv, scale) rows
    * so the element codes themselves sit under the hash gate.
    */
  val simsearchQuantize: QueryDef = QueryDef(
    "simsearch_quantize_int8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 100)
      Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("scale"), posexplode(col("q")).as(Seq("pos", "qv")))
        .select(col("vec_id"), col("pos"), col("qv"), col("scale"))
        .orderBy(col("vec_id"), col("pos"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings WHERE vec_id < 100)
      SELECT vec_id, CAST(i - 1 AS INT) AS pos,
        CASE WHEN scale > 0
             THEN CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / scale + 0.5) AS INT)
             ELSE 0 END AS qv,
        scale
      FROM e CROSS JOIN generate_series(1, 64) AS t(i)
      ORDER BY vec_id, pos"""))

  /** Matryoshka-embedding retrieval (arXiv:2205.13147): search on the
    * first-16 prefix of the 64-dim embedding (cosine needs no
    * renormalization — it normalizes by the prefix norms), measure
    * recall@5 against full-dim exact search. The dimension-truncation
    * quality/cost tradeoff as a measured, oracle-mirrored number;
    * composes slice → bruteForceTopKAgg (bounded TopK aggregator) →
    * recallAtK, all individually gated.
    */
  val simsearchMatryoshka: QueryDef = QueryDef(
    "simsearch_matryoshka_recall",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("emb16"))
      val approx = graft.llm.Similarity.bruteForceTopKAgg(
        sliced, sliced.filter(col("vec_id") < 10), "vec_id", "emb16",
        dim = 16, k = 5)
      val exact = graft.llm.Similarity.bruteForceTopKAgg(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5)
      graft.llm.Similarity.recallAtK(approx, exact).orderBy(col("qid"))
    },
    Some(s"""WITH approx AS (SELECT qid, vb FROM (${Ora.bruteForceTopKSql(10, 5, 16)})),
      exact AS (SELECT qid, vb FROM (${Ora.bruteForceTopKSql(10, 5, 64)})),
      hit AS (SELECT e.qid, COUNT(*) AS n_hit
        FROM exact e JOIN approx a ON a.qid = e.qid AND a.vb = e.vb
        GROUP BY e.qid),
      ex AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY qid)
      SELECT ex.qid, ex.n_exact, COALESCE(hit.n_hit, 0) AS n_hit,
        ROUND(CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact, 6) AS recall
      FROM ex LEFT JOIN hit ON hit.qid = ex.qid ORDER BY ex.qid"""),
    memBound = true)

  /** Left-associated squared-L2 between subspace j of two array columns —
    * the SQL twin of pqTopK's l2j fold (identical IEEE term order).
    */
  private def l2SubSql(a: String, b: String, j: Int, sub: Int): String =
    (1 to sub).map { d =>
      val i = j * sub + d
      s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * " +
        s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))"
    }.mkString(" + ")

  /** Product-quantization ANN under a deterministic training-free codebook
    * (first 16 vectors), m = 4 subspaces of 16 dims: encode every vector to
    * 4 codes, rank candidates for the first 5 queries by the asymmetric
    * distance. The whole pipeline — codebook, codes, ADC ranking — sits
    * under the exact hash gate (the simsearch_ivf_fixed precedent).
    */
  val simsearchPqAdc: QueryDef = {
    val m = 4; val sub = 16
    val codesSql = (0 until m).map { j =>
      s"""SELECT vec_id, $j AS j, cw FROM (
          SELECT e.vec_id, c.cw, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY (${l2SubSql("e.embedding", "c.cv", j, sub)}) ASC, c.cw) AS rn
          FROM embeddings e CROSS JOIN cb c) WHERE rn = 1"""
    }.mkString("\n        UNION ALL\n        ")
    val djSql = (0 until m).map { j =>
      s"WHEN $j THEN (${l2SubSql("q.qv", "c.cv", j, sub)})"
    }.mkString(" ")
    QueryDef(
      "simsearch_pq_adc",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.llm.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", dim = 64, m = m,
            codewords = emb.filter(col("vec_id") < 16), k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH cb AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cw,
            embedding AS cv FROM embeddings WHERE vec_id < 16),
        codes AS MATERIALIZED (
        $codesSql),
        q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 5),
        pd AS (SELECT q.qid, cd.vec_id AS vb,
            CASE cd.j $djSql END AS dj
          FROM q CROSS JOIN codes cd
          JOIN cb c ON c.cw = cd.cw
          WHERE cd.vec_id <> q.qid),
        dist AS (SELECT qid, vb,
            CAST(ROUND(SUM(CAST(dj AS DECIMAL(27,10))), 6) AS DOUBLE) AS dist
          FROM pd GROUP BY qid, vb),
        r AS (SELECT qid, vb, dist, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY dist ASC, vb) AS rank FROM dist)
        SELECT qid, CAST(rank AS INT) AS rank, vb, dist
        FROM r WHERE rank <= 10 ORDER BY qid, rank"""))
  }

  /** IVF-PQ (the flagship FAISS composition): fixed-seed coarse cells,
    * PQ over RESIDUALS v − seed(cell) with a training-free codebook (the
    * residuals of vec_ids 8..23 — non-seed rows, so no zero-vector
    * codewords), nprobe = 2 probed cells per query, ADC ranking. The
    * entire index build + search hash-matches the mirror.
    */
  /** The WITH-chain of the IVF-PQ mirror up through the ranked `r`
    * relation — shared by the search query and the rerank composition so
    * the index-build mirror cannot drift between them.
    */
  private lazy val ivfPqCtes: String = {
    val m = 4; val sub = 16
    val resList =
      "[CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE) " +
        "for i in generate_series(1, 64)]"
    val codesSql = (0 until m).map { j =>
      s"""SELECT vec_id, cell, $j AS j, cw FROM (
          SELECT r0.vec_id, r0.cell, c.cw, ROW_NUMBER() OVER (
              PARTITION BY r0.vec_id
              ORDER BY (${l2SubSql("r0.r", "c.cv", j, sub)}) ASC, c.cw) AS rn
          FROM res r0 CROSS JOIN cb c) WHERE rn = 1"""
    }.mkString("\n        UNION ALL\n        ")
    val djSql = (0 until m).map { j =>
      s"WHEN $j THEN (${l2SubSql("qr.r", "c.cv", j, sub)})"
    }.mkString(" ")
    s"""${fixedAsnCtes},
        res AS MATERIALIZED (SELECT a.vec_id, a.ivf_cell AS cell, $resList AS r
          FROM embeddings e JOIN asn a USING (vec_id)
          JOIN seeds s ON s.cell = a.ivf_cell),
        cb AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cw, r AS cv
          FROM res WHERE vec_id >= 8 AND vec_id < 24),
        codes AS MATERIALIZED (
        $codesSql),
        q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 5),
        probes AS (SELECT qid, cell FROM (
            SELECT q.qid, s.cell, ROW_NUMBER() OVER (PARTITION BY q.qid
              ORDER BY (${Ora.dotArrSql("q.qv", "s.cv", 64)}) /
                (SQRT(${Ora.normArrSql("q.qv", 64)}) *
                 SQRT(${Ora.normArrSql("s.cv", 64)})) DESC, s.cell) AS rn
            FROM q CROSS JOIN seeds s
            WHERE SQRT(${Ora.normArrSql("q.qv", 64)}) *
                  SQRT(${Ora.normArrSql("s.cv", 64)}) > 0)
          WHERE rn <= 2),
        qr AS (SELECT p.qid, p.cell,
            [CAST(q.qv[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)
             for i in generate_series(1, 64)] AS r
          FROM probes p JOIN q USING (qid)
          JOIN seeds s ON s.cell = p.cell),
        pd AS (SELECT qr.qid, cd.vec_id AS vb, CASE cd.j $djSql END AS dj
          FROM qr JOIN codes cd ON cd.cell = qr.cell
          JOIN cb c ON c.cw = cd.cw
          WHERE cd.vec_id <> qr.qid),
        dist AS (SELECT qid, vb,
            CAST(ROUND(SUM(CAST(dj AS DECIMAL(27,10))), 6) AS DOUBLE) AS dist
          FROM pd GROUP BY qid, vb),
        r AS (SELECT qid, vb, dist, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY dist ASC, vb) AS rank FROM dist)"""
  }

  private def ivfPqSpark(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"))
    graft.llm.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dim = 64, m = 4,
      seeds = seeds, cellCol = "cell", cvecCol = "cv",
      isCodeword = col("vec_id") >= 8 && col("vec_id") < 24,
      k = k, nprobe = 2)
  }

  val simsearchIvfPq: QueryDef = QueryDef(
    "simsearch_ivfpq",
    (s, dir) => ivfPqSpark(s, dir, k = 10).orderBy(col("qid"), col("rank")),
    Some(s"""WITH $ivfPqCtes
        SELECT qid, CAST(rank AS INT) AS rank, vb, dist
        FROM r WHERE rank <= 10 ORDER BY qid, rank"""))

  /** The production retrieval stack's final stage: the PQ shortlist
    * (cheap, approximate, k' = 50) re-ranked by EXACT cosine on the
    * shortlisted candidates only — the corpus is touched at full precision
    * for |Q|·k' rows however large it is (the hybrid_rerank precedent with
    * an ANN first stage instead of BM25).
    */
  val simsearchIvfPqRerank: QueryDef = QueryDef(
    "simsearch_ivfpq_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val shortlist = ivfPqSpark(s, dir, k = 50)
        .select(col("qid"), col("vb"))
      val withVecs = shortlist
        .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
        .join(broadcast(emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))), Seq("qid"))
      val topk = udaf(new graft.functions.Aggregators.TopK(10))
      withVecs
        .select(col("qid"),
          round(graft.llm.Similarity.cosine("qv", "eb", 64), 6).as("cos"),
          col("vb"))
        .filter(col("cos").isNotNull)
        .groupBy(col("qid"))
        .agg(topk(col("cos"), col("vb")).as("hits"))
        .select(col("qid"), posexplode(col("hits")))
        .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("vb"), col("col.score").as("cos"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH $ivfPqCtes,
        short AS (SELECT qid, vb FROM r WHERE rank <= 50),
        rer AS (SELECT s.qid, s.vb,
            ROUND((${Ora.dotArrSql("qe.embedding", "ce.embedding", 64)}) /
              (SQRT(${Ora.normArrSql("qe.embedding", 64)}) *
               SQRT(${Ora.normArrSql("ce.embedding", 64)})), 6) AS cos
          FROM short s
          JOIN embeddings qe ON qe.vec_id = s.qid
          JOIN embeddings ce ON ce.vec_id = s.vb
          WHERE SQRT(${Ora.normArrSql("qe.embedding", 64)}) *
                SQRT(${Ora.normArrSql("ce.embedding", 64)}) > 0),
        rr AS (SELECT qid, vb, cos, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cos DESC, vb) AS rank FROM rer)
        SELECT qid, CAST(rank AS INT) AS rank, vb, cos
        FROM rr WHERE rank <= 10 ORDER BY qid, rank"""),
    memBound = true)

  /** MMR diversified rerank: query vec 0, top-32 candidates, 8 greedy
    * picks at λ = 0.7, mirrored as 8 unrolled selection steps (the
    * wordpiece precedent). Both engines iterate on identical rounded
    * cosines, so the pick SEQUENCE — not just the final set — is gated.
    */
  val mmrRerank: QueryDef = {
    val dim = 64; val nCand = 32; val k = 8; val lambda = 0.7
    val oml = 1.0 - lambda
    val lSql = s"CAST(${lambda.toString} AS DOUBLE)"
    val omlSql = s"CAST(${oml.toString} AS DOUBLE)"
    val steps = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (SELECT $i AS rank, cid, rel, score FROM (
          SELECT c.cid, c.rel,
            ROUND($lSql * c.rel - $omlSql * COALESCE(m.ms, 0.0), 10) AS score
          FROM cand c LEFT JOIN (SELECT s.ai AS cid, MAX(s.s) AS ms
            FROM sims s JOIN p${i - 1} p ON s.bi = p.cid GROUP BY 1) m
            USING (cid)
          WHERE c.cid NOT IN (SELECT cid FROM p${i - 1}))
        ORDER BY score DESC, cid LIMIT 1),
        p$i AS (SELECT cid FROM p${i - 1} UNION ALL SELECT cid FROM s$i)"""
    }.mkString(",\n        ")
    val unions = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    QueryDef(
      "mmr_rerank",
      (s, dir) => graft.llm.Similarity.mmrRerank(
          t(s, dir, "embeddings"), "vec_id", "embedding", dim = dim,
          queryId = 0L, nCand = nCand, k = k, lambda = lambda)
        .orderBy(col("rank")),
      Some(s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        r0 AS (SELECT c.vec_id AS cid,
            ROUND(${Ora.cosineSql("c", "q", dim)}, 6) AS rel, c.embedding
          FROM embeddings c, q WHERE c.vec_id <> 0),
        cand AS MATERIALIZED (SELECT cid, rel, embedding FROM r0
          WHERE rel IS NOT NULL ORDER BY rel DESC, cid LIMIT $nCand),
        sims AS MATERIALIZED (SELECT a.cid AS ai, b.cid AS bi,
            ROUND(${Ora.cosineSql("a", "b", dim)}, 6) AS s
          FROM cand a JOIN cand b ON a.cid <> b.cid
          WHERE ${Ora.cosineSql("a", "b", dim)} IS NOT NULL),
        s1 AS MATERIALIZED (SELECT 1 AS rank, cid, rel,
            ROUND($lSql * rel - $omlSql * 0.0, 10) AS score
          FROM cand ORDER BY score DESC, cid LIMIT 1),
        p1 AS (SELECT cid FROM s1),
        $steps
      SELECT CAST(rank AS INT) AS rank, cid AS vec_id, rel, score
      FROM ($unions) ORDER BY rank"""))
  }

  /** Embedding-distribution drift between the even/odd vec_id halves:
    * per-dimension decimal-exact centroids, then centroid cosine and L2
    * distance — the shift monitor a production embedding pipeline runs
    * between corpus snapshots.
    */
  val embDrift: QueryDef = {
    val dim = 64
    QueryDef(
      "emb_drift",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select((col("vec_id") % 2 === 0).as("half_a"),
            posexplode(col("embedding")).as(Seq("d", "v")))
          .select(col("half_a"), col("d"), col("v").cast("double").as("v"))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(27,10)")
        val perDim = e.groupBy(col("d"))
          .agg(sum(when(col("half_a"), dec(col("v")))).cast("double").as("sa"),
            sum(when(!col("half_a"), dec(col("v")))).cast("double").as("sb"),
            sum(when(col("half_a"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("half_a"), 1L).otherwise(0L)).as("nb"))
          .select(col("d"), (col("sa") / col("na").cast("double")).as("ca"),
            (col("sb") / col("nb").cast("double")).as("cb"),
            col("na"), col("nb"))
        perDim.agg(
          first(col("na")).as("n_dims_a"),
          sum(dec(col("ca") * col("cb"))).cast("double").as("dot"),
          sum(dec(col("ca") * col("ca"))).cast("double").as("n2a"),
          sum(dec(col("cb") * col("cb"))).cast("double").as("n2b"),
          sum(dec((col("ca") - col("cb")) * (col("ca") - col("cb"))))
            .cast("double").as("l2s"))
          .select(col("n_dims_a").as("n_vecs_a"),
            round(col("dot") / sqrt(col("n2a") * col("n2b")), 6)
              .as("centroid_cosine"),
            round(sqrt(col("l2s")), 6).as("centroid_l2"))
      },
      Some(s"""WITH e AS (SELECT (vec_id % 2 = 0) AS half_a,
          unnest([{'d': i, 'v': CAST(embedding[i] AS DOUBLE)}
                  for i in generate_series(1, len(embedding))],
                 recursive := true)
          FROM embeddings),
        pd AS (SELECT d,
          CAST(SUM(CASE WHEN half_a THEN CAST(v AS DECIMAL(27,10)) END)
            AS DOUBLE) AS sa,
          CAST(SUM(CASE WHEN NOT half_a THEN CAST(v AS DECIMAL(27,10)) END)
            AS DOUBLE) AS sb,
          CAST(SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN NOT half_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
          FROM e GROUP BY 1),
        c AS (SELECT d, sa / CAST(na AS DOUBLE) AS ca,
          sb / CAST(nb AS DOUBLE) AS cb, na, nb FROM pd),
        f AS (SELECT ANY_VALUE(na) AS n_vecs_a,
          CAST(SUM(CAST((ca * cb) AS DECIMAL(27,10))) AS DOUBLE) AS dot,
          CAST(SUM(CAST((ca * ca) AS DECIMAL(27,10))) AS DOUBLE) AS n2a,
          CAST(SUM(CAST((cb * cb) AS DECIMAL(27,10))) AS DOUBLE) AS n2b,
          CAST(SUM(CAST(((ca - cb) * (ca - cb)) AS DECIMAL(27,10)))
            AS DOUBLE) AS l2s
          FROM c)
      SELECT n_vecs_a, ROUND(dot / SQRT(n2a * n2b), 6) AS centroid_cosine,
        ROUND(SQRT(l2s), 6) AS centroid_l2
      FROM f"""))
  }

  /** PQ/ADC search under a LEARNED codebook: init = first 16 vectors
    * (the training-free codebook), one Lloyd round of per-subspace L2
    * assignment + decimal-exact element-wise mean recompute
    * ([[graft.llm.Similarity.pqLearnCodebook]]), then the standard
    * encode + ADC ranking. RNG-free end to end, so codebook TRAINING
    * itself sits under the exact hash gate — the mirror unrolls the
    * round: assignment CTE (the pq_adc codes shape against cb0),
    * per-subspace mean CTEs, empty-cell COALESCE back to the seed slice,
    * then the search chain against the learned cb.
    */
  val simsearchPqLearned: QueryDef = {
    val m = 4; val sub = 16; val ks = 16
    // assignment of every vector's subspace j to its nearest cb0 codeword
    val codes0Sql = (0 until m).map { j =>
      s"""SELECT vec_id, $j AS j, cw FROM (
          SELECT e.vec_id, c.cw, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY (${l2SubSql("e.embedding", "c.cv", j, sub)}) ASC, c.cw) AS rn
          FROM embeddings e CROSS JOIN cb0 c) WHERE rn = 1"""
    }.mkString("\n        UNION ALL\n        ")
    // per-(subspace, codeword) decimal element-wise means
    val meanCtes = (0 until m).map { j =>
      val meanCols = (j * sub + 1 to (j + 1) * sub).map(i =>
        s"CAST(SUM(CAST(CAST(e.embedding[$i] AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c$i")
        .mkString(", ")
      s"""mn$j AS MATERIALIZED (SELECT cd.cw, $meanCols
          FROM codes0 cd JOIN embeddings e USING (vec_id)
          WHERE cd.j = $j GROUP BY cd.cw)"""
    }.mkString(",\n        ")
    // learned codebook: per codeword, each element from its subspace's
    // mean, COALESCE back to the seed slice when the (j, cw) cell emptied
    val cbElems = (1 to m * sub).map { i =>
      val j = (i - 1) / sub
      s"COALESCE(mn$j.c$i, CAST(c0.cv[$i] AS DOUBLE))"
    }.mkString(", ")
    val cbJoins = (0 until m).map(j => s"LEFT JOIN mn$j ON mn$j.cw = c0.cw")
      .mkString(" ")
    // search chain against the learned cb (the pq_adc shapes)
    val codesSql = (0 until m).map { j =>
      s"""SELECT vec_id, $j AS j, cw FROM (
          SELECT e.vec_id, c.cw, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY (${l2SubSql("e.embedding", "c.cv", j, sub)}) ASC, c.cw) AS rn
          FROM embeddings e CROSS JOIN cb c) WHERE rn = 1"""
    }.mkString("\n        UNION ALL\n        ")
    val djSql = (0 until m).map { j =>
      s"WHEN $j THEN (${l2SubSql("q.qv", "c.cv", j, sub)})"
    }.mkString(" ")
    QueryDef(
      "simsearch_pq_learned",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = Similarity.pqLearnCodebook(emb, "vec_id", "embedding",
          dim = 64, m = m, ks = ks, iters = 1)
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", dim = 64, m = m, codewords = cb, k = 10)
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH cb0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cw,
            embedding AS cv FROM embeddings WHERE vec_id < $ks),
        codes0 AS MATERIALIZED (
        $codes0Sql),
        $meanCtes,
        cb AS MATERIALIZED (SELECT c0.cw, [$cbElems] AS cv
          FROM cb0 c0 $cbJoins),
        codes AS MATERIALIZED (
        $codesSql),
        q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id < 5),
        pd AS (SELECT q.qid, cd.vec_id AS vb,
            CASE cd.j $djSql END AS dj
          FROM q CROSS JOIN codes cd
          JOIN cb c ON c.cw = cd.cw
          WHERE cd.vec_id <> q.qid),
        dist AS (SELECT qid, vb,
            CAST(ROUND(SUM(CAST(dj AS DECIMAL(27,10))), 6) AS DOUBLE) AS dist
          FROM pd GROUP BY qid, vb),
        r AS (SELECT qid, vb, dist, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY dist ASC, vb) AS rank FROM dist)
        SELECT qid, CAST(rank AS INT) AS rank, vb, dist
        FROM r WHERE rank <= 10 ORDER BY qid, rank"""))
  }

  /** Filtered ANN: label-centroid IVF search with a candidate predicate
    * (vec_id % 3 = 0 — the tenant/language filter shape). Centroids and
    * probing use the FULL corpus (the index layout); the predicate prunes
    * candidates inside the probed cells — the FAISS post-probe-pre-filter
    * semantics, whole pipeline under the hash gate.
    */
  val simsearchFiltered: QueryDef = QueryDef(
    "simsearch_filtered",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Similarity.ivfTopKFiltered(emb,
          emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", dim = 64, k = 5, nprobe = 3,
          candidateFilter = col("vec_id") % 3 === 0)
        .orderBy(col("qid"), col("rank"))
    },
    Some(Ora.ivfLabelSql(maxQid = 10, k = 5, nprobe = 3, dim = 64,
      extraCandPred = "e.vec_id % 3 = 0")))

  /** Graph ANN (NSW/HNSW family) under the deterministic fixed-seed
    * quantizer: cells from [[graft.llm.Similarity.assignCells]] (the
    * simsearch_ivf_fixed precedent), a navigable edge list (within-cell
    * kNN + hub backbone, [[graft.llm.GraphAnn.nswEdges]]), entry at the
    * query's own cell hub, then 2 beam-search rounds — the whole
    * build→navigate→rank path against the exact unrolled DuckDB mirror.
    */
  /** The fixed-seed cell assignment + m=4 navigable edge list the graph-ANN
    * family shares (simsearch_graph_beam's single-layer search and
    * simsearch_hnsw's layer 0 are the SAME relation) — built + shuffled once
    * per session via [[graft.Core.memo]], the co-purchase/Gram precedent.
    */
  private def nswCellsShared(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "nsw_cells_seed8") {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      graft.llm.Similarity.assignCells(emb, "vec_id", "embedding",
        seeds, "cell", "cv", dim = 64)
    }

  /** SQL mirror of the exact cosine scoring of (qid, node) candidates in
    * `cand` — the step both NSW beam-search mirrors repeat per round.
    */
  private def nswScoreSql(cand: String): String =
          s"""SELECT c.qid, c.node,
              ROUND((${dotArrSql("qe.embedding", "ne.embedding", 64)}) /
                (SQRT(${normArrSql("qe.embedding", 64)}) *
                 SQRT(${normArrSql("ne.embedding", 64)})), 6) AS cos
            FROM $cand c JOIN embeddings qe ON qe.vec_id = c.qid
            JOIN embeddings ne ON ne.vec_id = c.node
            WHERE SQRT(${normArrSql("qe.embedding", 64)}) *
              SQRT(${normArrSql("ne.embedding", 64)}) > 0"""

  /** The graph-ANN pair's ONE edge build: every HNSW layer's edge list
    * (src, dst, lvl for lvl 0..2) from a single
    * [[graft.llm.GraphAnn.nswEdgesLayered]] pass. simsearch_graph_beam's
    * single-layer list IS the lvl=0 slice (bit-identical to
    * [[graft.llm.GraphAnn.nswEdges]] — spec-pinned), and simsearch_hnsw
    * reads all three, so the suite pays the within-cell kNN build exactly
    * once for the whole family.
    */
  private val NswMaxLevel = 2

  private def nswEdgesLayeredShared(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "nsw_edges_layered_m4_L2") {
      graft.llm.GraphAnn.nswEdgesLayered(
        nswCellsShared(s, dir).withColumn("lvl",
          graft.llm.GraphAnn.hnswLevelCol(col("vec_id"), NswMaxLevel)),
        "vec_id", "embedding", "ivf_cell", "lvl", dim = 64, m = 4,
        minLevel = 0, maxLevel = NswMaxLevel)
    }

  private def nswEdgesShared(s: SparkSession, dir: String): DataFrame =
    nswEdgesLayeredShared(s, dir).filter(col("lvl") === 0)
      .select(col("src"), col("dst"))

  val simsearchGraphBeam: QueryDef = {
    val m = 4; val beam = 3; val rounds = 2; val k = 5
    QueryDef(
      "simsearch_graph_beam",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cells = nswCellsShared(s, dir)
        val edges = nswEdgesShared(s, dir)
        val hubs = GraphAnn.hubs(cells, "vec_id", "ivf_cell")
        val entries = cells.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ivf_cell"))
          .join(hubs, Seq("ivf_cell"))
          .select(col("qid"), col("hub").as("node"))
        GraphAnn.beamSearch(emb, edges, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", dim = 64, entries,
            k = k, beam = beam, rounds = rounds)
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        // the frontier EXCLUDES already-expanded nodes exactly like
        // GraphAnn.beamSearch's explored-set anti-join — without the
        // NOT EXISTS the mirror re-selects the entry hub into the round-2
        // beam and the two engines search different node sets
        def beamSql(scored: String, explored: Seq[String]): String = {
          val excl = explored.map(f =>
            s"""AND NOT EXISTS (SELECT 1 FROM $f
                WHERE $f.qid = x.qid AND $f.node = x.node)""").mkString(" ")
          s"""SELECT qid, node FROM (SELECT x.qid, x.node, ROW_NUMBER() OVER
              (PARTITION BY x.qid ORDER BY x.cos DESC, x.node) AS rn
              FROM $scored x WHERE 1 = 1 $excl)
            WHERE rn <= $beam"""
        }
        s"""WITH ${fixedAsnCtes},
          pr AS (SELECT a.vec_id AS src, b.vec_id AS dst,
              ROUND((${dotArrSql("ea.embedding", "eb.embedding", 64)}) /
                (SQRT(${normArrSql("ea.embedding", 64)}) *
                 SQRT(${normArrSql("eb.embedding", 64)})), 6) AS cos
            FROM asn a JOIN asn b ON a.ivf_cell = b.ivf_cell
              AND a.vec_id <> b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE SQRT(${normArrSql("ea.embedding", 64)}) *
              SQRT(${normArrSql("eb.embedding", 64)}) > 0),
          knn AS (SELECT src, cos, dst FROM (SELECT src, cos, dst,
              ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst)
                AS rn FROM pr)
            WHERE rn <= $m),
          sym AS (SELECT src, cos, dst FROM knn
            UNION SELECT dst, cos, src FROM knn),
          knn2 AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER
              (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sym)
            WHERE rn <= ${2 * m}),
          hubs AS (SELECT ivf_cell, MIN(vec_id) AS hub FROM asn GROUP BY 1),
          nodehub AS (SELECT a.vec_id AS src, h.hub AS dst
            FROM asn a JOIN hubs h USING (ivf_cell) WHERE a.vec_id <> h.hub),
          edges AS MATERIALIZED (SELECT src, dst FROM knn2
            UNION SELECT src, dst FROM nodehub
            UNION SELECT h1.hub, h2.hub FROM hubs h1 JOIN hubs h2
              ON h1.hub <> h2.hub),
          ent AS (SELECT a.vec_id AS qid, h.hub AS node
            FROM asn a JOIN hubs h USING (ivf_cell) WHERE a.vec_id < 5),
          s0 AS (${nswScoreSql("ent")}),
          f1 AS (${beamSql("s0", Seq())}),
          c1 AS (SELECT qid, node FROM s0
            UNION SELECT f.qid, e.dst FROM f1 f JOIN edges e ON e.src = f.node),
          s1 AS (${nswScoreSql("c1")}),
          f2 AS (${beamSql("s1", Seq("f1"))}),
          c2 AS (SELECT qid, node FROM s1
            UNION SELECT f.qid, e.dst FROM f2 f JOIN edges e ON e.src = f.node),
          s2 AS (${nswScoreSql("c2")})
        SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM (
          SELECT qid, node AS vb, cos, ROW_NUMBER() OVER
            (PARTITION BY qid ORDER BY cos DESC, node) AS rank
          FROM s2 WHERE node <> qid)
        WHERE rank <= $k ORDER BY qid, rank"""
      })
  }

  /** Multi-layer HNSW search against the exact unrolled DuckDB mirror:
    * deterministic md5-coin levels (4^-l occupancy,
    * [[graft.llm.GraphAnn.hnswLevels]]), per-layer navigable graphs
    * (within-cell kNN + hub backbone over the layer members), descent from
    * the apex entry point with the ef-carry (top-`beam` of each upper
    * layer's visited set seeds the next layer), full beam search at layer
    * 0 — the whole hierarchy build → descend → search path mirrored CTE
    * for CTE (the simsearch_graph_beam precedent, reference HNSW role:
    * the scale path next to IVF for embedding near-neighbor retrieval).
    */
  val simsearchHnsw: QueryDef = {
    val m = 4; val beam = 3; val rounds = 2; val k = 5; val maxLevel = 2
    QueryDef(
      "simsearch_hnsw",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // EVERY edge list (all three layers) comes from the one memoized
        // layered build the graph-ANN pair shares — this query adds zero
        // build jobs of its own; only the descent + search run here
        val cells = nswCellsShared(s, dir)
        val allEdges = nswEdgesLayeredShared(s, dir)
        def layerE(l: Int) = allEdges.filter(col("lvl") === l)
          .select(col("src"), col("dst"))
        val queries = emb.filter(col("vec_id") < 5)
        // apex = smallest top-layer member, as a LAZY 1-row broadcast
        // cross (no driver collect job); assert_true keeps the
        // empty-apex contract loud and un-prunable (it guards the value)
        val apex = cells
          .withColumn("lvl", GraphAnn.hnswLevelCol(col("vec_id"), maxLevel))
          .filter(col("lvl") >= maxLevel)
          .agg(min(col("vec_id")).as("node"))
          .select(when(assert_true(col("node").isNotNull,
            lit("simsearch_hnsw: empty apex layer")).isNull,
            col("node")).as("node"))
        val entries = queries.select(col("vec_id").as("qid"))
          .crossJoin(broadcast(apex))
        GraphAnn.hnswSearchPrebuilt(emb, queries, "vec_id", "embedding",
            dim = 64, (maxLevel to 1 by -1).map(layerE), layerE(0),
            entries, k = k, beam = beam, rounds = rounds)
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        val h = md5LongSql("CAST(vec_id AS VARCHAR)")
        // the navigable-graph block over a member CTE — the same
        // pr→knn→sym→knn2→hubs→nodehub→edges chain as the
        // simsearch_graph_beam mirror, suffixed per layer
        def edgeCtes(x: String, mem: String): String =
          s"""pr$x AS (SELECT a.vec_id AS src, b.vec_id AS dst,
              ROUND((${dotArrSql("ea.embedding", "eb.embedding", 64)}) /
                (SQRT(${normArrSql("ea.embedding", 64)}) *
                 SQRT(${normArrSql("eb.embedding", 64)})), 6) AS cos
            FROM $mem a JOIN $mem b ON a.ivf_cell = b.ivf_cell
              AND a.vec_id <> b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE SQRT(${normArrSql("ea.embedding", 64)}) *
              SQRT(${normArrSql("eb.embedding", 64)}) > 0),
          knn$x AS (SELECT src, cos, dst FROM (SELECT src, cos, dst,
              ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst)
                AS rn FROM pr$x)
            WHERE rn <= $m),
          sym$x AS (SELECT src, cos, dst FROM knn$x
            UNION SELECT dst, cos, src FROM knn$x),
          knn2$x AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER()
              OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
              FROM sym$x)
            WHERE rn <= ${2 * m}),
          hubs$x AS (SELECT ivf_cell, MIN(vec_id) AS hub FROM $mem
            GROUP BY 1),
          nodehub$x AS (SELECT a.vec_id AS src, h.hub AS dst
            FROM $mem a JOIN hubs$x h USING (ivf_cell)
            WHERE a.vec_id <> h.hub),
          edges$x AS MATERIALIZED (SELECT src, dst FROM knn2$x
            UNION SELECT src, dst FROM nodehub$x
            UNION SELECT h1.hub, h2.hub FROM hubs$x h1 JOIN hubs$x h2
              ON h1.hub <> h2.hub)"""
        def beamSql(scored: String, b: Int, explored: Seq[String]): String = {
          val excl = explored.map(f =>
            s"""AND NOT EXISTS (SELECT 1 FROM $f
                WHERE $f.qid = x.qid AND $f.node = x.node)""").mkString(" ")
          s"""SELECT qid, node FROM (SELECT x.qid, x.node, ROW_NUMBER() OVER
              (PARTITION BY x.qid ORDER BY x.cos DESC, x.node) AS rn
              FROM $scored x WHERE 1 = 1 $excl)
            WHERE rn <= $b"""
        }
        // one upper-layer descent block: beamSearch(k = beam, beam = 1,
        // rounds = 1) — score entries, top-1 frontier, expand, rescore,
        // carry top-`beam` (self-matches excluded) down as next entries
        def upperCtes(x: String, ent: String): String =
          s"""su${x}0 AS (${nswScoreSql(ent)}),
          fu$x AS (${beamSql(s"su${x}0", 1, Seq())}),
          cu$x AS (SELECT qid, node FROM su${x}0
            UNION SELECT f.qid, e.dst FROM fu$x f JOIN edges$x e
              ON e.src = f.node),
          su${x}1 AS (${nswScoreSql(s"cu$x")}),
          ent${if (x == "2") "1" else "0"} AS (SELECT qid, node FROM (
            SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, node) AS rn
            FROM su${x}1 WHERE node <> qid) WHERE rn <= $beam)"""
        s"""WITH ${fixedAsnCtes},
          lvl AS (SELECT vec_id,
              CASE WHEN ($h) % 16 = 0 THEN 2
                   WHEN ($h) % 4 = 0 THEN 1 ELSE 0 END AS lvl
            FROM embeddings),
          mem2 AS (SELECT a.vec_id, a.ivf_cell FROM asn a
            JOIN lvl l USING (vec_id) WHERE l.lvl >= 2),
          mem1 AS (SELECT a.vec_id, a.ivf_cell FROM asn a
            JOIN lvl l USING (vec_id) WHERE l.lvl >= 1),
          ${edgeCtes("2", "mem2")},
          ${edgeCtes("1", "mem1")},
          ${edgeCtes("0", "asn")},
          ent2 AS (SELECT a.vec_id AS qid,
              (SELECT MIN(vec_id) FROM mem2) AS node
            FROM asn a WHERE a.vec_id < 5),
          ${upperCtes("2", "ent2")},
          ${upperCtes("1", "ent1")},
          s0 AS (${nswScoreSql("ent0")}),
          f1 AS (${beamSql("s0", beam, Seq())}),
          c1 AS (SELECT qid, node FROM s0
            UNION SELECT f.qid, e.dst FROM f1 f JOIN edges0 e
              ON e.src = f.node),
          s1 AS (${nswScoreSql("c1")}),
          f2 AS (${beamSql("s1", beam, Seq("f1"))}),
          c2 AS (SELECT qid, node FROM s1
            UNION SELECT f.qid, e.dst FROM f2 f JOIN edges0 e
              ON e.src = f.node),
          s2 AS (${nswScoreSql("c2")})
        SELECT qid, CAST(rank AS INT) AS rank, vb, cos FROM (
          SELECT qid, node AS vb, cos, ROW_NUMBER() OVER
            (PARTITION BY qid ORDER BY cos DESC, node) AS rank
          FROM s2 WHERE node <> qid)
        WHERE rank <= $k ORDER BY qid, rank"""
      })
  }

  val all: Seq[QueryDef] = Seq(
    simsearchTopK, simsearchTopKAgg, simsearchIvf, simsearchKmeans, hybridRerank,
    simsearchIvfFixed, simsearchRecall, simsearchQuantize, simsearchMatryoshka,
    simsearchPqAdc, simsearchIvfPq, simsearchIvfPqRerank, mmrRerank, embDrift,
    simsearchPqLearned, simsearchFiltered, simsearchGraphBeam, simsearchHnsw)
}
