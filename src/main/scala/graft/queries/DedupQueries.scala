package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Core
import graft.llm.{Dedup, Graph, Similarity}

/** Near-duplicate detection queries: exact and digest dedup, n-gram
  * Jaccard, MinHash/SimHash/embedding LSH, clustering and canonicalization,
  * cross-corpus and incremental indexes, span removal and entity
  * resolution.
  */
object DedupQueries {

  import graft.Ora._

  /** The verified n=3 Jaccard near-dup pair relation over `documents`
    * (minJaccard 0.5, maxDf 1000) — shared input of dedup_ngram_jaccard,
    * dedup_clusters, and dedup_canonicalize; the shingle inverted-index
    * join builds once per session instead of three times.
    */
  private def jaccardPairsShared(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "jaccard_pairs_n3_j05_df1000") {
      graft.llm.Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = 1000)
    }

  /** The verified MinHash+LSH near-dup pair relation over `documents`
    * (n=3, k=16, r=4, minJaccard 0.5) — shared by dedup_minhash and the
    * sketch_minhash_error calibration.
    */
  private[queries] def minhashPairsShared(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "minhash_pairs_n3_k16_r4_j05") {
      graft.llm.Dedup.minhashDedup(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 16, r = 4, minJaccard = 0.5)
    }

  // shingle/dot/norm mirrors come from Ora (shinglesSql, dotSql/normSql,
  // dotArrSql/normArrSql) — one definition shared across every oracle

  /** Exact dedup: hash-groupBy on content. */
  val dedupExact: QueryDef = QueryDef(
    "dedup_exact",
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("keep_id")),
    Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text ORDER BY keep_id"""))

  /** Exact dedup through the digest key — the 100 TB shuffle-width variant:
    * 16-byte md5 keys instead of whole documents through the exchange.
    */
  val dedupExactDigest: QueryDef = QueryDef(
    "dedup_exact_digest",
    (s, dir) => Dedup.exactByDigest(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("keep_id")),
    Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""))

  /** N-gram Jaccard near-dup via inverted-index join (no all-pairs), with the
    * hot-shingle document-frequency cap mirrored on both engines.
    */
  val dedupJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) => jaccardPairsShared(s, dir)
      .orderBy(col("da"), col("db")),
    Some(s"""WITH sh_all AS (${shinglesSql(3)}),
      sh AS (SELECT sh_all.* FROM sh_all
             JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
             USING (sh)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM pairs JOIN sizes sa ON da = sa.doc_id
                       JOIN sizes sb ON db = sb.doc_id)
      SELECT da, db, jac FROM j WHERE jac >= 0.5 ORDER BY da, db"""))

  /** MinHash + LSH banding: shingle → k=16 signature → 4 bands of 4 →
    * bucket-join candidates → exact-Jaccard verification.
    */
  val dedupMinhash: QueryDef = QueryDef(
    "dedup_minhash",
    (s, dir) => minhashPairsShared(s, dir)
      .orderBy(col("da"), col("db")),
    Some(s"""WITH sh AS (${shinglesSql(3)}),
      hm AS (SELECT doc_id, sh, ${md5LongSql("sh")} % 1000000007 AS hm FROM sh),
      params AS (SELECT g AS i, (654435747 * (g + 1)) % 1000000007 AS a,
                        (654602297 * (g + 1)) % 1000000007 AS b
                 FROM generate_series(0, 15) t(g)),
      mh AS (SELECT doc_id, i, MIN((a * hm + b) % 1000000007) AS mh
             FROM hm CROSS JOIN params GROUP BY 1, 2),
      sig AS (SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
              FROM mh GROUP BY 1, 2),
      sigc AS (SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
              COUNT(*) OVER (PARTITION BY band, sig) AS n FROM sig)
          WHERE n <= 1000),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM sigc a JOIN sigc b ON a.band = b.band AND a.sig = b.sig
                                       AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      common AS (SELECT c.da, c.db, COUNT(*) AS c
                 FROM cand c JOIN sh a ON a.doc_id = c.da
                             JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
                 GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM common JOIN sizes sa ON da = sa.doc_id
                        JOIN sizes sb ON db = sb.doc_id)
      SELECT da, db, jac FROM j WHERE jac >= 0.5 ORDER BY da, db"""))

  /** 16-bit SimHash per document (bitwise majority of token hashes). */
  val dedupSimhash: QueryDef = {
    val bitSumsSql = (0 until 16)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val valueSql = (0 until 16)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    QueryDef(
      "dedup_simhash",
      (s, dir) => Dedup.simhash16(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        h AS (SELECT doc_id, ${md5LongSql("tok")} % 65536 AS h FROM tok),
        bits AS (SELECT doc_id, $bitSumsSql FROM h GROUP BY doc_id)
        SELECT doc_id, CAST($valueSql AS BIGINT) AS simhash
        FROM bits ORDER BY doc_id"""))
  }

  /** Embedding-cosine near-dup with label blocking. */
  val dedupEmbedding: QueryDef = QueryDef(
    "dedup_embedding_cosine",
    (s, dir) => Dedup.embeddingNearDup(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", dim = 64, minCos = 0.4)
      .orderBy(col("va"), col("vb")),
    Some(s"""SELECT va, vb, cos FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
          ROUND((${dotSql("a", "b", 64)}) /
            (SQRT(${normSql("a", 64)}) * SQRT(${normSql("b", 64)})), 6) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos >= 0.4 ORDER BY va, vb"""))

  /** Near-dup cluster resolution: connected components over the Jaccard
    * pair graph by min-label propagation; the oracle computes the same
    * components with a recursive transitive-closure CTE.
    */
  val dedupClusters: QueryDef = QueryDef(
    "dedup_clusters",
    (s, dir) => Dedup.resolveClusters(jaccardPairsShared(s, dir))
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE sh_all AS (${shinglesSql(3)}),
      sh AS (SELECT sh_all.* FROM sh_all
             JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
             USING (sh)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      prs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM prs JOIN sizes sa ON da = sa.doc_id
                     JOIN sizes sb ON db = sb.doc_id),
      pairs AS (SELECT da, db FROM j WHERE jac >= 0.5),
      e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
      reach AS (
        SELECT a, a AS b FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
      SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach
      GROUP BY a ORDER BY doc_id"""))

  /** Random-hyperplane LSH near-dup — the corpus-scale path (no label
    * blocking, no O(block²)); the oracle mirrors the integer-LCG hyperplanes
    * and the banding exactly.
    */
  val dedupEmbeddingLsh: QueryDef = QueryDef(
    "dedup_embedding_lsh",
    (s, dir) => Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, nBits = 32, r = 8, minCos = 0.4)
      .orderBy(col("va"), col("vb")),
    Some(s"""WITH sigs AS (
        SELECT vec_id,
          [array_to_string([CASE WHEN list_sum([
             (CAST((654435747 * (j*64 + i + 1)) % 1000000007 AS DOUBLE) - 500000003.0)
               * CAST(embedding[i+1] AS DOUBLE)
             for i in generate_series(0, 63)]) > 0 THEN '1' ELSE '0' END
             for j in generate_series(bd*8, bd*8+7)], '')
           for bd in generate_series(0, 3)] AS sigl
        FROM embeddings),
      bands AS (SELECT vec_id, g AS band, sigl[g+1] AS sig
                FROM sigs, generate_series(0, 3) t(g)),
      cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
      v AS (SELECT va, vb,
              ROUND((${dotSql("a", "b", 64)}) /
                (SQRT(${normSql("a", 64)}) * SQRT(${normSql("b", 64)})), 6) AS cos
            FROM cand JOIN embeddings a ON a.vec_id = va
                      JOIN embeddings b ON b.vec_id = vb)
      SELECT va, vb, cos FROM v WHERE cos >= 0.4 ORDER BY va, vb"""))

  /** The pairs → clusters → corpus composition, ending in [[Dedup.canonicalize]]:
    * the deduplicated corpus itself (one canonical doc per near-dup cluster,
    * all unclustered docs kept).
    */
  val dedupCanonicalize: QueryDef = QueryDef(
    "dedup_canonicalize",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.resolveClusters(jaccardPairsShared(s, dir))
      Dedup.canonicalize(docs, clusters, "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE sh_all AS (${shinglesSql(3)}),
      sh AS (SELECT sh_all.* FROM sh_all
             JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
             USING (sh)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      prs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM prs JOIN sizes sa ON da = sa.doc_id
                     JOIN sizes sb ON db = sb.doc_id),
      pairs AS (SELECT da, db FROM j WHERE jac >= 0.5),
      e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
      reach AS (
        SELECT a, a AS b FROM (SELECT DISTINCT a FROM e)
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (
        SELECT a FROM (SELECT a, MIN(b) AS cluster_id FROM reach GROUP BY a)
        WHERE a <> cluster_id)
      ORDER BY doc_id"""))

  /** SemDeDup (cluster-then-prune semantic dedup) under the deterministic
    * fixed-seed quantizer: assignCells → within-cell pair cosine → drop
    * non-smallest ids of each near-dup pair → survivors. The whole
    * pipeline — assignment included — hash-matches the DuckDB mirror; with
    * a KMeans quantizer only the fit would be unmirrorable (the
    * simsearch_ivf_fixed precedent applied to curation).
    */
  val dedupSemantic: QueryDef = QueryDef(
    "dedup_semantic",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      // materialized once: the pair join reads the assignment twice
      val cells = Similarity.assignCells(emb, "vec_id", "embedding",
          seeds, "cell", "cv", dim = 64)
        .localCheckpoint()
      Dedup.semanticDedup(cells, "vec_id", "embedding", "ivf_cell",
          dim = 64, minCos = 0.4)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH ${SimsearchQueries.fixedAsnCtes},
        vec AS (SELECT a.ivf_cell, e.vec_id, e.embedding
                FROM asn a JOIN embeddings e USING (vec_id)),
        dropped AS (SELECT DISTINCT b.vec_id
            FROM vec a JOIN vec b
              ON a.ivf_cell = b.ivf_cell AND a.vec_id < b.vec_id
            WHERE ROUND((${dotArrSql("a.embedding", "b.embedding", 64)}) /
                (SQRT(${normArrSql("a.embedding", 64)}) *
                 SQRT(${normArrSql("b.embedding", 64)})), 6) >= 0.4)
        SELECT a.vec_id, a.ivf_cell FROM asn a
        ANTI JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id"""))

  /** Substring-class exact dedup signal: per-document profile of word
    * 8-gram windows repeated verbatim in other documents.
    */
  val dedupWindowStats: QueryDef = QueryDef(
    "dedup_window_stats",
    (s, dir) => graft.llm.Dedup.windowDupStats(
        t(s, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy(col("doc_id")),
    Some(s"""WITH sh AS (${shinglesSql(8)}),
      c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS docs FROM sh),
      per AS (SELECT doc_id, COUNT(*) AS n_windows,
          CAST(SUM(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        FROM c GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(per.n_windows, 0) AS n_windows,
        COALESCE(per.n_dup_windows, 0) AS n_dup_windows,
        CASE WHEN COALESCE(per.n_windows, 0) > 0
             THEN ROUND(CAST(COALESCE(per.n_dup_windows, 0) AS DOUBLE) / per.n_windows, 6)
             ELSE 0.0 END AS dup_fraction
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id"""))

  /** N-gram containment pairs — the subset-duplicate detector (a document
    * quoted wholesale inside a larger one clears containment while Jaccard
    * stays near zero). Same capped inverted-index mechanics as
    * dedup_ngram_jaccard; both directions emitted.
    */
  val dedupContainment: QueryDef = QueryDef(
    "dedup_containment",
    (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, minContainment = 0.6, maxDf = 1000)
      .orderBy(col("da"), col("db")),
    Some(s"""WITH sh_all AS (${shinglesSql(3)}),
      sh AS (SELECT sh_all.* FROM sh_all
             JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
             USING (sh)),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      ct AS (SELECT da, db, ROUND(c / sa.sz, 6) AS cont_ab,
                    ROUND(c / sb.sz, 6) AS cont_ba
             FROM pairs JOIN sizes sa ON da = sa.doc_id
                        JOIN sizes sb ON db = sb.doc_id)
      SELECT da, db, cont_ab, cont_ba FROM ct
      WHERE GREATEST(cont_ab, cont_ba) >= 0.6 ORDER BY da, db"""))

  /** Cross-corpus incremental dedup: the doc_id % 4 = 0 slice plays the
    * refreshed-crawl "new" snapshot, checked against the rest as the
    * accepted reference corpus. Candidates only from new-bands × ref-bands
    * (never new×new / ref×ref); verified by exact Jaccard.
    */
  val dedupCross: QueryDef = QueryDef(
    "dedup_cross_corpus",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusDedup(
          docs.filter(col("doc_id") % 4 === 0),
          docs.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", n = 3, k = 16, r = 4, minJaccard = 0.5)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sh AS (${shinglesSql(3)}),
      hm AS (SELECT doc_id, sh, ${md5LongSql("sh")} % 1000000007 AS hm FROM sh),
      params AS (SELECT g AS i, (654435747 * (g + 1)) % 1000000007 AS a,
                        (654602297 * (g + 1)) % 1000000007 AS b
                 FROM generate_series(0, 15) t(g)),
      mh AS (SELECT doc_id, i, MIN((a * hm + b) % 1000000007) AS mh
             FROM hm CROSS JOIN params GROUP BY 1, 2),
      sig AS (SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
              FROM mh GROUP BY 1, 2),
      sign AS (SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
              COUNT(*) OVER (PARTITION BY band, sig) AS n
            FROM sig WHERE doc_id % 4 = 0) WHERE n <= 1000),
      sigr AS (SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
              COUNT(*) OVER (PARTITION BY band, sig) AS n
            FROM sig WHERE doc_id % 4 <> 0) WHERE n <= 1000),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM sign a JOIN sigr b ON a.band = b.band AND a.sig = b.sig),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      common AS (SELECT c.da, c.db, COUNT(*) AS c
                 FROM cand c JOIN sh a ON a.doc_id = c.da
                             JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
                 GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM common JOIN sizes sa ON da = sa.doc_id
                        JOIN sizes sb ON db = sb.doc_id),
      per AS (SELECT da, MIN(db) AS dup_of, MAX(jac) AS best_jac
              FROM j WHERE jac >= 0.5 GROUP BY da)
      SELECT d.doc_id, per.dup_of, per.best_jac, per.dup_of IS NULL AS keep
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN per ON d.doc_id = per.da
      ORDER BY d.doc_id"""))

  /** Corpus-duplicated span removal: segments repeated verbatim in more
    * than one document are deleted and the cleaned text is rebuilt in
    * order — the REMOVAL counterpart of dedup_window_stats' measurement.
    * n = 3 non-overlapping token segments over the synthetic corpus give a
    * real mix (~34% of segment instances removed at sf0.01).
    */
  val dedupSpanRemoval: QueryDef = QueryDef(
    "dedup_span_removal",
    (s, dir) => Dedup.removeDupSpans(t(s, dir, "documents"),
        "doc_id", "text", n = 3, maxDocs = 1)
      .orderBy(col("doc_id")),
    Some(s"""WITH base AS (SELECT doc_id, ${toksSql} AS w FROM documents),
      g AS (SELECT doc_id, w,
          unnest(generate_series(1, CAST(CEIL(len(w) / 3.0) AS BIGINT))) AS g
        FROM base),
      seg AS (SELECT doc_id, g - 1 AS pos,
          array_to_string(w[(g-1)*3+1 : g*3], ' ') AS seg
        FROM g),
      freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY seg),
      k AS (SELECT s.doc_id, s.pos, s.seg, f.nd > 1 AS dup
        FROM seg s JOIN freq f USING (seg)),
      per AS (SELECT doc_id, COUNT(*) AS n_segments,
          CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY pos) AS clean_text
        FROM k GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(per.n_segments, 0) AS n_segments,
        COALESCE(per.n_removed, 0) AS n_removed,
        COALESCE(per.clean_text, '') AS clean_text
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id"""))

  /** Blocked string-similarity join: 20 closest part-name pairs with
    * edit distance ≤ 10 WITHIN a (brand, size) block — the composite
    * block key bounds pair fan-out ~50× tighter than brand alone
    * (13 → ~1 s at sf0.1; at 100 TB the block key IS the scalability
    * dial). The |length difference| ≤ 10 lower bound prunes before the
    * quadratic-cost levenshtein — lossless under the dist ≤ 10
    * definition the mirror states directly.
    */
  val editDistancePairs: QueryDef = {
    val k = 20; val maxDist = 10
    QueryDef(
      "f22_edit_distance",
      (s, dir) => {
        val p = t(s, dir, "part")
          .select(col("p_brand"), col("p_size"), col("p_partkey"), col("p_name"))
        val pairs = p.select(col("p_brand"), col("p_size"),
            col("p_partkey").as("id_a"), col("p_name").as("name_a"))
          .join(p.select(col("p_brand"), col("p_size"),
            col("p_partkey").as("id_b"), col("p_name").as("name_b")),
            Seq("p_brand", "p_size"))
          .filter(col("id_a") < col("id_b") &&
            abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
          // 2-arg levenshtein: the 3-arg banded variant measured 2x SLOWER
          // in Spark 4.1 (interpreted path); the length lower bound plus
          // the dist cutoff do the pruning instead
          .select(col("p_brand"), col("id_a"), col("id_b"),
            levenshtein(col("name_a"), col("name_b")).as("dist"))
          .filter(col("dist") <= maxDist)
        // bounded closest-k by (dist ASC, id_a, id_b): k pairs per partial
        // buffer instead of a global single-partition sort of the pair
        // relation (which grows with data); the block brand of the k
        // winners is recovered from `part` via a broadcast join of k rows
        val botk = udaf(new graft.functions.Aggregators.BottomKPair(k))
        val top = pairs.agg(botk(col("dist").cast("double"),
            col("id_a"), col("id_b")).as("hits"))
          .select(posexplode(col("hits")))
          .select((col("pos") + 1).cast("int").as("rank"),
            col("col.a").as("id_a"), col("col.b").as("id_b"),
            col("col.score").cast("int").as("dist"))
        broadcast(top)
          .join(p.select(col("p_partkey").as("id_a"), col("p_brand")),
            Seq("id_a"))
          .select(col("rank"), col("p_brand"), col("id_a"), col("id_b"),
            col("dist"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH pr AS (SELECT a.p_brand, a.p_partkey AS id_a,
          b.p_partkey AS id_b,
          CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
          FROM part a JOIN part b ON a.p_brand = b.p_brand
            AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey),
        r AS (SELECT p_brand, id_a, id_b, dist, ROW_NUMBER() OVER
          (ORDER BY dist, id_a, id_b) AS rank
          FROM pr WHERE dist <= $maxDist)
      SELECT CAST(rank AS INT) AS rank, p_brand, id_a, id_b, dist
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Entity resolution over the part catalogue: (brand, size)-blocked
    * candidate pairs at edit distance ≤ 8 (the threshold that yields
    * real matches at every test scale — ≤ 3 found zero pairs at
    * sf0.001 and failed the rows>0 smoke), clustered by 3 synchronous
    * min-label rounds (fixed rounds — the mirror runs the identical
    * algorithm, so even an unconverged labeling matches), canonical
    * survivor = smallest key. Top-15 merged entities by size.
    *
    * The full ER pipeline shape: block → match → cluster → survive, each
    * stage bounded (block key caps the pair fan-out; clustering touches
    * only matched nodes).
    */
  val entityResolution: QueryDef = {
    val maxDist = 8; val rounds = 3; val k = 15
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT n.node,
          LEAST(n.label, COALESCE(m.ml, n.label)) AS label
          FROM l${i - 1} n LEFT JOIN (
            SELECT e.dst AS node, MIN(l.label) AS ml
            FROM ed e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1) m
          ON m.node = n.node)"""
    }.mkString(",\n        ")
    QueryDef(
      "er_entity_resolution",
      (s, dir) => {
        val p = t(s, dir, "part")
          .select(col("p_brand"), col("p_size"), col("p_partkey"), col("p_name"))
        val pairs = p.select(col("p_brand"), col("p_size"),
            col("p_partkey").as("a"), col("p_name").as("na"))
          .join(p.select(col("p_brand"), col("p_size"),
            col("p_partkey").as("b"), col("p_name").as("nb")),
            Seq("p_brand", "p_size"))
          .filter(col("a") < col("b") &&
            abs(length(col("na")) - length(col("nb"))) <= maxDist &&
            levenshtein(col("na"), col("nb")) <= maxDist)
          .select(col("a"), col("b"))
        // each min-label round joins broadcast labels against ed
        val ed = Graph.undirectedEdges(pairs)
        var lab = ed.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        for (_ <- 1 to rounds) {
          val m = ed.join(lab.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst").as("node")).agg(min(col("label")).as("ml"))
          lab = lab.join(m, Seq("node"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("ml"), col("label"))).as("label"))
            .localCheckpoint()
        }
        val sizes = lab.groupBy(col("label").as("canonical"))
          .agg(count(lit(1)).as("n_members"))
        // bounded top-k by (n_members DESC, canonical ASC): k rows per
        // partial buffer instead of a global single-partition sort of the
        // cluster relation (which grows with data)
        val topk = udaf(new graft.functions.Aggregators.TopK(k))
        sizes.agg(topk(col("n_members").cast("double"), col("canonical"))
            .as("hits"))
          .select(posexplode(col("hits")))
          .select((col("pos") + 1).cast("int").as("rank"),
            col("col.id").as("canonical"),
            col("col.score").cast("long").as("n_members"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH pr AS (SELECT a.p_partkey AS a, b.p_partkey AS b
          FROM part a JOIN part b ON a.p_brand = b.p_brand
            AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
            AND abs(len(a.p_name) - len(b.p_name)) <= $maxDist
            AND levenshtein(a.p_name, b.p_name) <= $maxDist),
        ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr
          UNION SELECT b, a FROM pr),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
        $steps,
        sz AS (SELECT label AS canonical, CAST(COUNT(*) AS BIGINT)
          AS n_members FROM l$rounds GROUP BY 1),
        r AS (SELECT canonical, n_members, ROW_NUMBER() OVER
          (ORDER BY n_members DESC, canonical) AS rank FROM sz)
      SELECT CAST(rank AS INT) AS rank, canonical, n_members
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Exact Jaccard-threshold self-join via PREFIX FILTERING
    * ([[graft.llm.Dedup.prefixJaccardPairs]]) — the no-false-negative,
    * no-cap member of the dedup family: global (df ASC, shingle ASC)
    * canonical order, per-doc prefix of |d| − ceil(τ|d|) + 1 rarest
    * shingles, prefix⋈prefix candidates under the size-ratio bound,
    * exact verify. Candidate fan-out per token is its PREFIX frequency
    * (hot tokens are pushed out of prefixes by the ordering), so the
    * Σ df² blowup of an uncapped inverted index never materializes.
    * Same output contract as dedup_ngram_jaccard, different (exact)
    * candidate machinery — both engines replicate the prefix selection
    * deterministically (ties broken by shingle string).
    */
  val dedupPrefixJaccard: QueryDef = QueryDef(
    "dedup_prefix_jaccard",
    (s, dir) => graft.llm.Dedup.prefixJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", n = 3, minJaccard = 0.5)
      .orderBy(col("da"), col("db")),
    Some(s"""WITH sh AS (${shinglesSql(3)}),
      dfc AS (SELECT sh, COUNT(*) AS dfc FROM sh GROUP BY 1),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      ord AS (SELECT s.doc_id, s.sh,
          ROW_NUMBER() OVER (PARTITION BY s.doc_id
            ORDER BY d.dfc, s.sh) AS pos
        FROM sh s JOIN dfc d USING (sh)),
      pref AS (SELECT o.doc_id, o.sh, z.sz
        FROM ord o JOIN sizes z USING (doc_id)
        WHERE o.pos <= z.sz - CEIL(0.5 * CAST(z.sz AS DOUBLE) - 1e-9) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
        WHERE CAST(b.sz AS DOUBLE) >= 0.5 * CAST(a.sz AS DOUBLE)
          AND CAST(a.sz AS DOUBLE) >= 0.5 * CAST(b.sz AS DOUBLE)),
      inter AS (SELECT cand.da, cand.db, COUNT(*) AS c
        FROM cand JOIN sh x ON x.doc_id = cand.da
                  JOIN sh y ON y.doc_id = cand.db AND y.sh = x.sh
        GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
        FROM inter JOIN sizes sa ON da = sa.doc_id
                   JOIN sizes sb ON db = sb.doc_id)
      SELECT da, db, jac FROM j WHERE jac >= 0.5 ORDER BY da, db"""))

  /** Persisted dedup-index lifecycle under ONE oracle
    * ([[graft.llm.DedupIndex]]): build the LSH band + docset index from
    * the %5∈{1,2} slice, APPEND the %5∈{3,4} slice (write-only, schema-
    * and hash-probe-guarded), then probe the %5=0 slice against the
    * persisted state. The mirror computes the direct cross-corpus form
    * (probe × full reference) with no index at all — hash equality
    * proves the save→append→query disk roundtrip changes nothing, the
    * s3_sink_roundtrip precedent applied to incremental dedup state.
    */
  val dedupIndexIncremental: QueryDef = QueryDef(
    "dedup_index_incremental",
    (s, dir) => {
      import graft.llm.DedupIndex
      val docs = t(s, dir, "documents")
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_dedup_index").getAbsolutePath
      // a previous run's index must not leak into this one: append is
      // append — stale bands would double every candidate
      val hPath = new org.apache.hadoop.fs.Path(base)
      hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hPath, true)
      DedupIndex.save(docs.filter(col("doc_id") % 5 === 1 ||
          col("doc_id") % 5 === 2), "doc_id", "text", base)
      DedupIndex.append(s, base, docs.filter(col("doc_id") % 5 === 3 ||
          col("doc_id") % 5 === 4), "doc_id", "text")
      DedupIndex.query(s, base, docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", minJaccard = 0.5)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sh AS (${shinglesSql(3)}),
      hm AS (SELECT doc_id, sh,
          ${md5LongSql("sh")} % 1000000007 AS hm FROM sh),
      params AS (SELECT g AS i, (654435747 * (g + 1)) % 1000000007 AS a,
                        (654602297 * (g + 1)) % 1000000007 AS b
                 FROM generate_series(0, 15) t(g)),
      mh AS (SELECT doc_id, i, MIN((a * hm + b) % 1000000007) AS mh
             FROM hm CROSS JOIN params GROUP BY 1, 2),
      sig AS (SELECT doc_id, i // 4 AS band,
                     string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
              FROM mh GROUP BY 1, 2),
      sigp AS (SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
              COUNT(*) OVER (PARTITION BY band, sig) AS n
            FROM sig WHERE doc_id % 5 = 0) WHERE n <= 1000),
      sigi AS (SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
              COUNT(*) OVER (PARTITION BY band, sig) AS n
            FROM sig WHERE doc_id % 5 <> 0) WHERE n <= 1000),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM sigp a JOIN sigi b ON a.band = b.band AND a.sig = b.sig),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      common AS (SELECT c.da, c.db, COUNT(*) AS c
                 FROM cand c JOIN sh a ON a.doc_id = c.da
                             JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
                 GROUP BY 1, 2),
      j AS (SELECT da, db, ROUND(c / (sa.sz + sb.sz - c), 6) AS jac
            FROM common JOIN sizes sa ON da = sa.doc_id
                        JOIN sizes sb ON db = sb.doc_id),
      per AS (SELECT da, MIN(db) AS dup_of, MAX(jac) AS best_jac
              FROM j WHERE jac >= 0.5 GROUP BY da)
      SELECT d.doc_id, per.dup_of, per.best_jac, per.dup_of IS NULL AS keep
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN per ON d.doc_id = per.da
      ORDER BY d.doc_id"""))

  val all: Seq[QueryDef] = Seq(
    dedupExact, dedupExactDigest, dedupJaccard, dedupMinhash, dedupSimhash,
    dedupEmbedding, dedupClusters, dedupEmbeddingLsh, dedupCanonicalize, dedupSemantic,
    dedupWindowStats, dedupContainment, dedupCross, dedupSpanRemoval, editDistancePairs,
    entityResolution, dedupPrefixJaccard, dedupIndexIncremental)
}
