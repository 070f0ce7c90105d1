package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Core
import graft.llm.{Curation, Dedup, Multimodal, TextAnalysis, Unigram}

/** Text and corpus-curation queries: tokenizers (BPE, unigram,
  * WordPiece), language ID, quality and perplexity scores, term statistics,
  * curation filters and pipelines, corpus mixing and packing, multimodal
  * chunks.
  */
object TextQueries {

  import graft.Ora._

  /** Audio-style overlapped window sampling over the payload (64-byte
    * windows, stride 48; short docs yield one truncated window).
    */
  val multimodalChunks: QueryDef = QueryDef(
    "multimodal_chunks",
    (s, dir) => Multimodal.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        size = 64, stride = 48)
      .orderBy(col("doc_id")),
    Some("""WITH c AS (SELECT doc_id,
        CASE WHEN LENGTH(text) >= 64
             THEN [substring(text, s, 64) for s in generate_series(1, LENGTH(text) - 63, 48)]
             ELSE [substring(text, 1, 64)] END AS chunks
        FROM documents)
      SELECT doc_id, CAST(LEN(chunks) AS INT) AS n_chunks,
        chunks[1] AS chunk_first, chunks[LEN(chunks)] AS chunk_last
      FROM c ORDER BY doc_id"""))

  /** Per-document quality features. */
  val textQuality: QueryDef = QueryDef(
    "text_quality",
    (s, dir) => TextAnalysis.qualityFeatures(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH f AS (SELECT doc_id,
        CAST(LENGTH(text) AS INT) AS n_chars,
        CAST(LEN($toksSql) AS INT) AS n_tokens,
        LENGTH(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS n_chars_nows,
        LEN(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
        LEN(list_filter($toksSql,
          x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
        FROM documents)
      SELECT doc_id, n_chars, n_tokens,
        ROUND(CAST(n_chars_nows AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
        ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio
      FROM f ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + BPE-ish sub-tokens. */
  val textTokens: QueryDef = QueryDef(
    "text_token_count",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"),
        size(TextAnalysis.bpeishTokens(col("text"))).as("n_bpeish_tokens"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      CAST(LEN($toksSql) AS INT) AS n_ws_tokens,
      CAST(LEN(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]')) AS INT) AS n_bpeish_tokens
      FROM documents ORDER BY doc_id"""))

  /** Language-ID by marker-word voting. */
  val textLangId: QueryDef = QueryDef(
    "text_langid",
    (s, dir) => TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some {
      val values = TextAnalysis.LangMarkers
        .map { case (l, w) => s"('$l','$w')" }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      m(mlang, mword) AS (VALUES $values),
      hits AS (SELECT doc_id, mlang, COUNT(*) AS n FROM tok
               JOIN m ON tok = mword GROUP BY 1, 2),
      best AS (SELECT doc_id, mlang, n,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, mlang) AS rn
               FROM hits)
      SELECT d.doc_id, COALESCE(b.mlang, 'und') AS pred_lang,
             CAST(COALESCE(b.n, 0) AS BIGINT) AS n_hits
      FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON d.doc_id = b.doc_id
      ORDER BY d.doc_id"""
    })

  /** Corpus vocabulary top-100: occurrence + document frequency per token,
    * global top-n as TakeOrderedAndProject (partition-local candidates, no
    * global sort).
    */
  val textVocab: QueryDef = QueryDef(
    "text_vocab",
    (s, dir) => TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text",
        n = 100)
      .orderBy(col("n_total").desc, col("tok")),
    Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
      SELECT tok, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
      FROM tok GROUP BY tok
      ORDER BY n_total DESC, tok LIMIT 100"""))

  /** Winnowing-style document fingerprint (min hash over 5-gram shingles). */
  val textFingerprint: QueryDef = QueryDef(
    "text_fingerprint",
    (s, dir) => graft.llm.TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
        list_min([${md5LongSql("g")}
                  for g in [array_to_string(w[i : i + 4], ' ')
                            for i in generate_series(1, len(w) - 4)]]) AS fingerprint
      FROM (SELECT doc_id, $toksSql AS w FROM documents)
      WHERE len(w) >= 5
      ORDER BY doc_id"""))

  /** Multimodal plumbing: payload metadata + frame-sampling stub. */
  val multimodal: QueryDef = QueryDef(
    "multimodal_frames",
    (s, dir) => Multimodal.frameSamples(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, CAST(LENGTH(text) AS INT) AS n_bytes,
      md5(text) AS content_hash,
      SUBSTRING(text, 1, 8) AS frame_head,
      SUBSTRING(text, GREATEST(1, LENGTH(text) // 2), 8) AS frame_mid,
      SUBSTRING(text, GREATEST(1, LENGTH(text) - 7), 8) AS frame_tail
      FROM documents ORDER BY doc_id"""))

  /** Within-document repetition ratio (duplicate word 2-grams share) —
    * the Gopher-style repetition quality filter.
    */
  val textRepetition: QueryDef = QueryDef(
    "text_repetition",
    (s, dir) => Core.table(s, dir, "documents")
      // staged token split (the Dedup.shingles lambda rule)
      .select(col("doc_id"),
        graft.llm.TextAnalysis.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.llm.TextAnalysis.repetitionRatioOfTokens(col("__toks"), 2)
          .as("rep_ratio"))
      .orderBy(col("doc_id")),
    Some("""WITH g AS (
        SELECT doc_id,
          [array_to_string(w[i : i + 1], ' ')
           for i in generate_series(1, len(w) - 1)] AS grams
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w
              FROM documents))
      SELECT doc_id,
        CASE WHEN len(grams) > 0
             THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             ELSE 0.0 END AS rep_ratio
      FROM g ORDER BY doc_id"""))

  private def shinglesFromSql(src: String, n: Int): String =
    s"""SELECT DISTINCT doc_id, unnest([array_to_string(w[g : g + ${n - 1}], ' ')
        for g in generate_series(1, len(w) - ${n - 1})]) AS sh
        FROM (SELECT doc_id, $toksSql AS w FROM $src)"""

  /** Benchmark decontamination: overlap of each corpus doc's distinct word
    * 3-grams with a benchmark slice (doc_id % 20 = 0), flag at ≥ 20 %.
    */
  val decontaminate: QueryDef = QueryDef(
    "curation_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contaminationScore(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3, threshold = 0.2)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
      bench AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
      csh AS (${shinglesFromSql("corpus", 3)}),
      bsh AS (SELECT DISTINCT sh FROM (${shinglesFromSql("bench", 3)})),
      agg AS (SELECT doc_id, COUNT(*) AS n_grams,
                CAST(SUM(CASE WHEN sh IN (SELECT sh FROM bsh)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM csh GROUP BY doc_id)
      SELECT c.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
        COALESCE(a.n_hit, 0) AS n_hit,
        CASE WHEN COALESCE(a.n_grams, 0) > 0
             THEN ROUND(CAST(a.n_hit AS DOUBLE) / a.n_grams, 6)
             ELSE 0.0 END AS overlap,
        (CASE WHEN COALESCE(a.n_grams, 0) > 0
              THEN ROUND(CAST(a.n_hit AS DOUBLE) / a.n_grams, 6)
              ELSE 0.0 END) >= 0.2 AS contaminated
      FROM corpus c LEFT JOIN agg a ON c.doc_id = a.doc_id
      ORDER BY c.doc_id"""))

  /** Top-3 TF-IDF terms per document (smoothed idf, deterministic
    * (tfidf DESC, token ASC) tie-break). Partitioned window — no global
    * sort; the heavy relation is the (doc, token) tf table, aggregated
    * with map-side partial combine before either shuffle.
    */
  val tfidfTopK: QueryDef = QueryDef(
    "text_tfidf_topk",
    (s, dir) => {
      val scored = TextAnalysis.tfidf(t(s, dir, "documents"), "doc_id", "text")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy(col("doc_id"), col("rk"))
    },
    // Mirror kept deliberately light for DuckDB: `tf` is MATERIALIZED (it
    // feeds both dfreq and scored — inlining would unnest every token
    // twice), and the top-3 comes from a grouped ordered-list agg sliced
    // to 3 instead of a ROW_NUMBER window (which materializes + sorts the
    // whole scored relation). Verified identical to the window form and
    // alive at a 40 MB memory_limit where the window form OOMs — the
    // oracle-side allocator failing under memory pressure killed exactly
    // this query in a verify run.
    Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      tf AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_corpus FROM documents),
      scored AS (SELECT doc_id, t.tok, t.tf, d.df,
          ROUND(t.tf * (LN((1.0 + n.n_corpus) / (1.0 + d.df)) + 1.0), 6) AS tfidf
        FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n),
      top3 AS (SELECT doc_id,
          (list({'tok': tok, 'tf': tf, 'df': df, 'tfidf': tfidf}
                ORDER BY tfidf DESC, tok))[1:3] AS tops
        FROM scored GROUP BY doc_id)
      SELECT doc_id, s.tok AS tok, s.tf AS tf, s.df AS df, s.tfidf AS tfidf,
        CAST(rk AS INT) AS rk
      FROM (SELECT doc_id, unnest(tops) AS s,
              unnest(generate_series(1, len(tops))) AS rk FROM top3)
      ORDER BY doc_id, rk"""))

  /** BM25 top-20 documents for a fixed query-term bag. The global top-20
    * plans as TakeOrderedAndProject (partition-local candidates).
    */
  val bm25Rank: QueryDef = QueryDef(
    "text_bm25_rank",
    (s, dir) => TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("hash", "merge", "scan"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20),
    Some(s"""WITH dl AS (SELECT doc_id, CAST(LEN($toksSql) AS DOUBLE) AS dl
        FROM documents),
      corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus, AVG(dl) AS avgdl
        FROM dl),
      tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
        WHERE tok IN ('hash', 'merge', 'scan') GROUP BY 1, 2),
      dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
      SELECT t.doc_id,
        ROUND(SUM(LN(1.0 + (c.n_corpus - d.df + 0.5) / (d.df + 0.5))
          * (t.tf * (1.2 + 1.0))
          / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl))), 6) AS bm25,
        COUNT(*) AS n_terms_hit
      FROM tf t JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
        CROSS JOIN corpus c
      GROUP BY t.doc_id ORDER BY bm25 DESC, t.doc_id LIMIT 20"""))

  /** PII redaction over a contact line derived from the table's own fields
    * (the raw corpus has no PII-shaped spans, so the line makes the regexes
    * observable): count + mask emails and phone spans, digest the redacted
    * text.
    */
  val piiRedact: QueryDef = QueryDef(
    "pii_redact",
    (s, dir) => {
      val withContact = t(s, dir, "documents").withColumn("text2",
        concat(col("text"), lit(" contact "), col("source"),
               lit("@example.com phone 555-"),
               lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      Curation.redactPii(withContact, "doc_id", "text2")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
                md5(col("redacted")).as("digest"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH c AS (SELECT doc_id,
        text || ' contact ' || source || '@example.com phone 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        FROM documents)
      SELECT doc_id,
        CAST(LEN(regexp_extract_all(text2, '${Curation.EmailPattern}')) AS BIGINT)
          AS n_emails,
        CAST(LEN(regexp_extract_all(text2, '${Curation.PhonePattern}')) AS BIGINT)
          AS n_phones,
        md5(regexp_replace(regexp_replace(text2, '${Curation.EmailPattern}',
          '<EMAIL>', 'g'), '${Curation.PhonePattern}', '<PHONE>', 'g')) AS digest
      FROM c ORDER BY doc_id"""))

  /** GPT-style packing layout: concat docs per source shard in id order,
    * slice into 512-token windows. All-integer arithmetic — exact oracle.
    */
  val packSequences: QueryDef = QueryDef(
    "pack_sequences",
    (s, dir) => Curation.packSequences(t(s, dir, "documents"),
        "doc_id", "text", shardCol = "source", maxTokens = 512)
      .orderBy(col("source"), col("doc_id")),
    Some(s"""WITH tl AS (SELECT source, doc_id,
        CAST(LEN($toksSql) AS BIGINT) AS n_tok FROM documents),
      cum AS (SELECT source, doc_id, n_tok,
        CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_off FROM tl)
      SELECT source, doc_id, n_tok, start_off,
        CAST(FLOOR(CAST(start_off AS DOUBLE) / 512) AS BIGINT) AS bin,
        start_off % 512 AS off_in_bin
      FROM cum ORDER BY source, doc_id"""))

  /** Data-mixture accounting: per (lang, source) document/token/char
    * totals — the corpus-composition report behind mixture weighting.
    */
  val corpusMixture: QueryDef = QueryDef(
    "corpus_mixture",
    (s, dir) => t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"),
           sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("source")),
    Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(LEN($toksSql)) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Unigram-LM surprisal (mean −log10 p(token) under the corpus's own
    * unigram distribution) — the cheap LM-perplexity quality proxy.
    */
  val textSurprisal: QueryDef = QueryDef(
    "text_surprisal",
    (s, dir) => graft.llm.TextAnalysis.unigramSurprisal(
        t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH tok AS (SELECT doc_id, unnest(${toksSql}) AS tok FROM documents),
      freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
      tot AS (SELECT SUM(cnt) AS tot FROM freq),
      sv AS (SELECT doc_id,
          -LOG10(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS s
        FROM tok JOIN freq USING (tok) CROSS JOIN tot),
      agg AS (SELECT doc_id, COUNT(*) AS n_tok,
          ROUND(CAST(SUM(CAST(s AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS surprisal
        FROM sv GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(agg.n_tok, 0) AS n_tok, agg.surprisal
      FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""))

  /** The composite quality verdict over the documents table: per-rule flags
    * plus the keep decision, thresholds chosen to split the synthetic corpus
    * both ways.
    */
  val curationQualityFilter: QueryDef = QueryDef(
    "curation_quality_filter",
    (s, dir) => graft.llm.Curation.qualityFilter(
        t(s, dir, "documents"), "doc_id", "text",
        minTokens = 40, maxTokens = 80, maxRepetition = 0.1,
        minStopRatio = 0.01)
      .orderBy(col("doc_id")),
    Some("""WITH b AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w
          FROM documents),
      g AS (SELECT doc_id, w,
          [array_to_string(w[i : i + 1], ' ')
           for i in generate_series(1, len(w) - 1)] AS grams
        FROM b),
      m AS (SELECT doc_id,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CASE WHEN len(grams) > 0
               THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
               ELSE 0.0 END AS rep_ratio,
          CASE WHEN len(w) > 0
               THEN CAST(len([t for t in w if t IN
                 ('the','a','of','and','to','in','is','on','for','with')]) AS DOUBLE) / len(w)
               ELSE 0.0 END AS stop_raw
        FROM g)
      SELECT doc_id, n_tokens, rep_ratio, ROUND(stop_raw, 6) AS stopword_ratio,
        n_tokens < 40 AS flag_short,
        n_tokens > 80 AS flag_long,
        rep_ratio > 0.1 AS flag_repetitive,
        stop_raw < 0.01 AS flag_no_stopwords,
        (NOT n_tokens < 40 AND NOT n_tokens > 80 AND NOT rep_ratio > 0.1
         AND NOT stop_raw < 0.01) AS keep
      FROM m ORDER BY doc_id"""))

  /** Overlapping fixed-size character chunks with offsets — the exploded
    * (doc, chunk) relation a retrieval index consumes. size=120 stride=80
    * (overlap 40); empty docs keep one empty chunk.
    */
  val chunkDocuments: QueryDef = QueryDef(
    "chunk_documents",
    (s, dir) => Curation.chunkDocuments(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 120, overlap = 40)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH s AS (SELECT doc_id, text,
          unnest(generate_series(1, GREATEST(LENGTH(text), 1), 80)) AS st
        FROM documents)
      SELECT doc_id, CAST((st - 1) // 80 AS INT) AS chunk_idx,
        CAST(st AS INT) AS chunk_start,
        substring(text, st, 120) AS chunk,
        CAST(LENGTH(substring(text, st, 120)) AS INT) AS chunk_len
      FROM s ORDER BY doc_id, chunk_idx"""))

  /** XLM-R/mT5-style temperature-smoothed source sampling weights
    * (alpha = 0.3): weight ∝ (source share)^alpha, decimal-accumulated so
    * aggregation order can't perturb the published weights.
    */
  val mixtureWeights: QueryDef = QueryDef(
    "mixture_weights",
    (s, dir) => Curation.mixtureWeights(t(s, dir, "documents"),
        "source", alpha = 0.3)
      .orderBy(col("source")),
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
             FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS tot FROM c),
        u AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / tot AS p
              FROM c, t),
        w AS (SELECT source, n_docs, p, POWER(p, 0.3) AS pw FROM u),
        sm AS (SELECT CAST(SUM(CAST(pw AS DECIMAL(27,10))) AS DOUBLE) AS ws
               FROM w)
      SELECT source, n_docs, ROUND(p, 6) AS p, ROUND(pw / ws, 6) AS weight
      FROM w, sm ORDER BY source"""))

  /** Canonical normalization through the native NfcNormalize codegen
    * expression. The query INJECTS a denormalized suffix (decomposed
    * e + U+0301, doubled spaces, a tab, trailing space) so the oracle
    * genuinely pins NFC recomposition + lowercasing + whitespace collapse
    * on every row — the corpus text alone is ASCII-clean and would
    * exercise only the identity fast path.
    */
  val textNormalize: QueryDef = QueryDef(
    "text_normalize",
    (s, dir) => TextAnalysis.normalizeText(
        t(s, dir, "documents")
          .withColumn("txt2", // the suffix's first e carries a combining acute (decomposed)
            concat(col("text"), lit(" Cafe\u0301  du\tMonde "))),
        "doc_id", "txt2")
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
          text || ' Cafe' || chr(769) || '  du' || chr(9) || 'Monde ' AS txt2
        FROM documents),
      n AS (SELECT doc_id,
          TRIM(regexp_replace(lower(nfc_normalize(txt2)),
               '[ \t\n\r\f]+', ' ', 'g')) AS normalized
        FROM d)
      SELECT doc_id, normalized,
        CAST(LENGTH(normalized) AS INT) AS n_chars_norm
      FROM n ORDER BY doc_id"""))

  /** CCNet-style bigram-LM perplexity: add-one-smoothed bigram model
    * trained on the doc_id % 5 != 0 slice, every document scored by mean
    * −log10 P(w2|w1) and the derived perplexity — the reference-LM
    * quality-filter pattern (held-out docs scored by a model that never
    * saw them).
    */
  val textPerplexity: QueryDef = QueryDef(
    "text_perplexity",
    (s, dir) => TextAnalysis.bigramPerplexity(
        t(s, dir, "documents"), "doc_id", "text",
        isTrain = col("doc_id") % 5 =!= 0)
      .orderBy(col("doc_id")),
    Some(s"""WITH base AS (SELECT doc_id, doc_id % 5 <> 0 AS is_train,
          ${toksSql} AS w
        FROM documents),
      g AS (SELECT doc_id, is_train,
          [{'w1': w[i], 'w2': w[i + 1]} for i in generate_series(1, len(w) - 1)] AS bgs
        FROM base),
      bi AS (SELECT doc_id, is_train, unnest(bgs, recursive := true) FROM g),
      bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bi WHERE is_train GROUP BY 1, 2),
      pc AS (SELECT w1, COUNT(*) AS cw FROM bi WHERE is_train GROUP BY 1),
      voc AS (SELECT COUNT(DISTINCT tok) AS v
              FROM (SELECT unnest(w) AS tok FROM base WHERE is_train)),
      sv AS (SELECT doc_id,
          -LOG10(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(cw, 0) + v AS DOUBLE)) AS s
        FROM bi LEFT JOIN bc USING (w1, w2) LEFT JOIN pc USING (w1) CROSS JOIN voc),
      agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
          ROUND(CAST(SUM(CAST(s AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6)
            AS neg_logp10
        FROM sv GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams, agg.neg_logp10,
        ROUND(POWER(10, agg.neg_logp10), 6) AS ppl
      FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""))

  /** BPE tokenizer training (Sennrich 2015): k merge steps over the corpus
    * word-frequency table, each step = weighted overlapping-pair count →
    * (freq DESC, lexicographic) argmax → literal left-to-right merge. The
    * mirror unrolls the k steps as MATERIALIZED CTEs (each s_i feeds both
    * the next pair count and the next rewrite — without MATERIALIZED the
    * inlining re-executes the whole prefix per reference, 2^k blowup).
    */
  val bpeTrain: QueryDef = {
    val k = 4
    val stepCtes = (1 to k).map { i =>
      s"""p$i AS (
        -- CAST: DuckDB SUM(BIGINT) is HUGEINT; the driver's hash is
        -- type-tagged, so an uncast freq hash-mismatches Spark's long
        -- even when values compare equal
        SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
          SELECT cnt, unnest([{'l': a[j], 'r': a[j + 1]}
                              for j in generate_series(1, len(a) - 1)],
                             recursive := true)
          FROM (SELECT cnt, string_split(sym, ' ') AS a FROM s${i - 1}))
        GROUP BY l, r),
      b$i AS (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1),
      s$i AS MATERIALIZED (
        -- double-spacing trick = exact greedy left-to-right merge (see
        -- Bpe.applyMerge): widen gaps to two spaces so consecutive pair
        -- occurrences stop sharing a boundary space, literal-replace,
        -- collapse back
        SELECT s.cnt, trim(replace(replace(
            ' ' || replace(s.sym, ' ', '  ') || ' ',
            ' ' || b.l || '  ' || b.r || ' ',
            ' ' || b.l || b.r || ' '), '  ', ' ')) AS sym
        FROM s${i - 1} s CROSS JOIN b$i b)"""
    }.mkString(",\n      ")
    val unionSteps = (1 to k).map(i =>
      s"SELECT $i AS step, l AS l_sym, r AS r_sym, l || r AS merged, freq FROM b$i")
      .mkString("\n        UNION ALL ")
    QueryDef(
      "bpe_train",
      (s, dir) => graft.llm.Bpe.train(t(s, dir, "documents"), "text", numMerges = k)
        .orderBy(col("step")),
      Some(s"""WITH s0 AS MATERIALIZED (
          SELECT cnt,
            array_to_string([w[j] for j in generate_series(1, len(w))], ' ')
              || ' </w>' AS sym
          FROM (SELECT w, COUNT(*) AS cnt
                FROM (SELECT unnest(${toksSql}) AS w FROM documents)
                GROUP BY w)),
      $stepCtes
      SELECT * FROM ($unionSteps) ORDER BY step"""))
  }

  /** BPE encode with a FIXED merge table (the fixed-quantizer precedent:
    * the train step's RNG-free output is gated by bpe_train above; this
    * gates the REPLAY mechanics — ordered literal merges over symbolized
    * tokens — end to end on a corpus slice).
    */
  val bpeEncode: QueryDef = {
    val merges = Seq(("e", "r"), ("t", "h"), ("th", "e"))
    // same double-spacing greedy merge as Bpe.applyMerge, folded per merge
    val replayed = merges.foldLeft("sym0") { case (s, (l, r)) =>
      s"trim(replace(replace(' ' || replace($s, ' ', '  ') || ' ', " +
        s"' $l  $r ', ' $l$r '), '  ', ' '))"
    }
    QueryDef(
      "bpe_encode",
      (s, dir) => graft.llm.Bpe.encode(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", merges)
        .select(col("doc_id"), col("tok_idx"), col("w"),
          array_join(col("pieces"), "|").as("pieces_str"), col("n_pieces"))
        .orderBy(col("doc_id"), col("tok_idx")),
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest([{'tok_idx': CAST(j - 1 AS INT), 'w': t[j]}
                                 for j in generate_series(1, len(t))],
                                recursive := true)
          FROM (SELECT doc_id, ${toksSql} AS t FROM documents
                WHERE doc_id < 100)),
        sym AS (SELECT doc_id, tok_idx, w,
            array_to_string([w[j] for j in generate_series(1, len(w))], ' ')
              || ' </w>' AS sym0
          FROM tok),
        enc AS (SELECT doc_id, tok_idx, w,
            string_split(trim($replayed), ' ') AS pieces
          FROM sym)
        SELECT doc_id, tok_idx, w, array_to_string(pieces, '|') AS pieces_str,
          CAST(len(pieces) AS INT) AS n_pieces
        FROM enc ORDER BY doc_id, tok_idx"""))
  }

  /** Markup stripping with INJECTED markup (the text_normalize precedent:
    * corpus text is markup-free, so the query wraps every row in tags +
    * entities to genuinely pin the strip → decode → collapse order on
    * every row).
    */
  val textHtmlStrip: QueryDef = QueryDef(
    "text_html_strip",
    (s, dir) => TextAnalysis.stripMarkup(
        t(s, dir, "documents").withColumn("txt2",
          concat(lit("<div id=\"x\"><p>"), col("text"),
            lit(" &amp; <b>bold</b> &lt;i&gt;</p></div>"))),
        "doc_id", "txt2")
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
          '<div id="x"><p>' || text || ' &amp; <b>bold</b> &lt;i&gt;</p></div>' AS txt2
        FROM documents),
      n AS (SELECT doc_id,
          TRIM(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(txt2, '<[^>]*>', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', chr(39)), '&amp;', '&'),
            '[ \t\n\r\f]+', ' ', 'g')) AS clean
        FROM d)
      SELECT doc_id, clean, CAST(LENGTH(clean) AS INT) AS n_chars_clean
      FROM n ORDER BY doc_id"""))

  /** Deterministic epoch shuffle into 8 training shards: shard = hash mod
    * 8, pos = rank by (hash, id) within the shard — same salt replays
    * bit-identically, per-shard rank window never sorts globally.
    */
  val corpusShuffle: QueryDef = QueryDef(
    "corpus_shuffle",
    (s, dir) => Curation.shuffleShards(t(s, dir, "documents"),
        "doc_id", numShards = 8)
      .orderBy(col("doc_id")),
    Some(s"""WITH h AS (SELECT doc_id,
          ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      s AS (SELECT doc_id, h, CAST(h % 8 AS INT) AS shard FROM h)
      SELECT doc_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
          AS INT) AS pos
      FROM s ORDER BY doc_id"""))

  /** Per-source document cap (Gopher-style domain balancing): keep the 10
    * longest documents per source, rank NULL past the cap. The ranking
    * runs through the bounded TopK aggregator — |domains|·cap exchange
    * rows, never a hot-domain window sort.
    */
  val curationDomainCap: QueryDef = QueryDef(
    "curation_domain_cap",
    (s, dir) => Curation.domainCap(t(s, dir, "documents"),
        "doc_id", "source", "n_chars", cap = 10)
      .orderBy(col("doc_id")),
    Some("""WITH r AS (SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents)
      SELECT doc_id, source, CAST(CASE WHEN rk <= 10 THEN rk END AS INT) AS rank,
        rk <= 10 AS keep
      FROM r ORDER BY doc_id"""))

  /** Multinomial Naive Bayes language classifier, trained on the
    * doc_id % 5 != 0 slice and scoring the held-out fifth — the RNG-free
    * core of the fastText-style supervised filters, so the ENTIRE
    * train+score pipeline sits under the exact hash gate (unlike the
    * RF/KMeans fits, which are rows-only by RNG).
    */
  val textNbLangid: QueryDef = QueryDef(
    "text_nb_langid",
    (s, dir) => graft.llm.Classify.nbTrainScore(t(s, dir, "documents"),
        "doc_id", "text", "lang", col("doc_id") % 5 =!= 0)
      .orderBy(col("doc_id")),
    Some(s"""WITH base AS (SELECT doc_id, lang, (doc_id % 5 != 0) AS is_train,
          ${toksSql} AS w FROM documents),
      ttok AS (SELECT lang AS label, unnest(w) AS tok FROM base WHERE is_train),
      cls AS (SELECT lang AS label, COUNT(*) AS nd FROM base WHERE is_train GROUP BY 1),
      tot AS (SELECT COUNT(*) AS td FROM base WHERE is_train),
      cnt AS (SELECT label, tok, COUNT(*) AS cnt FROM ttok GROUP BY 1, 2),
      ct AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS ct FROM cnt GROUP BY 1),
      voc AS (SELECT DISTINCT tok FROM ttok),
      v AS (SELECT COUNT(*) AS v FROM voc),
      stok AS (SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(w) AS tok FROM base WHERE NOT is_train)
        JOIN voc USING (tok)),
      pairs AS (SELECT s.doc_id, cl.label,
          LOG10(CAST(COALESCE(cn.cnt, 0) + 1 AS DOUBLE) /
                CAST(ct.ct + v.v AS DOUBLE)) AS lp
        FROM stok s CROSS JOIN cls cl
        LEFT JOIN cnt cn ON cn.label = cl.label AND cn.tok = s.tok
        JOIN ct ON ct.label = cl.label CROSS JOIN v),
      pdc AS (SELECT doc_id, label, SUM(CAST(lp AS DECIMAL(27,10))) AS sdec,
          COUNT(*) AS n_used
        FROM pairs GROUP BY 1, 2),
      pri AS (SELECT label, LOG10(CAST(nd AS DOUBLE) / CAST(td AS DOUBLE)) AS pr
        FROM cls CROSS JOIN tot),
      scored AS (SELECT sd.doc_id, sd.lang, p.label,
          COALESCE(pdc.sdec, CAST(0 AS DECIMAL(27,10))) + CAST(p.pr AS DECIMAL(27,10)) AS score_dec,
          COALESCE(pdc.n_used, 0) AS n_used
        FROM (SELECT doc_id, lang FROM base WHERE NOT is_train) sd
        CROSS JOIN pri p
        LEFT JOIN pdc ON pdc.doc_id = sd.doc_id AND pdc.label = p.label),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY score_dec DESC, label) AS rk FROM scored)
      SELECT doc_id, lang, label AS pred,
        CAST(ROUND(score_dec, 6) AS DOUBLE) AS score,
        CAST(n_used AS BIGINT) AS n_used,
        (label = lang) AS correct
      FROM r WHERE rk = 1 ORDER BY doc_id"""))

  private val DenyList = Seq("error", "slow", "big")

  /** Deny-list screening over the documents table: zero-shuffle map-side
    * token membership against an inlined wordlist.
    */
  val curationWordlistScreen: QueryDef = QueryDef(
    "curation_wordlist_screen",
    (s, dir) => Curation.wordlistScreen(t(s, dir, "documents"),
        "doc_id", "text", DenyList, maxFraction = 0.05)
      .orderBy(col("doc_id")),
    Some(s"""WITH b AS (SELECT doc_id, ${toksSql} AS w FROM documents),
      c AS (SELECT doc_id,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(w, x -> list_contains(['big','error','slow'], x)))
            AS BIGINT) AS n_hits,
          CAST(len(list_filter(list_distinct(w),
            x -> list_contains(['big','error','slow'], x)))
            AS BIGINT) AS n_distinct_hits
        FROM b)
      SELECT doc_id, n_tokens, n_hits, n_distinct_hits,
        CASE WHEN n_tokens > 0
             THEN ROUND(CAST(n_hits AS DOUBLE) / n_tokens, 6)
             ELSE 0.0 END AS hit_fraction,
        (CASE WHEN n_tokens > 0
              THEN ROUND(CAST(n_hits AS DOUBLE) / n_tokens, 6)
              ELSE 0.0 END) > 0.05 AS flagged
      FROM c ORDER BY doc_id"""))

  /** The full corpus-curation pipeline as ONE composed oracle (the
    * m11_prepare_input precedent for the LLM domain): quality gate →
    * exact-dedup canonicalization → benchmark decontamination →
    * deterministic split assignment → per-(split, lang) doc/token
    * accounting. Every stage is an already-gated operator; this query
    * proves they compose in one plan with the hash gate over the end
    * result.
    */
  val curationPipelineE2e: QueryDef = QueryDef(
    "curation_pipeline_e2e",
    (s, dir) => {
      import graft.llm.{Curation => Cur, Dedup, TextAnalysis}
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val bench = docs.filter(col("doc_id") % 20 === 0)
      // n_tokens rides along from the quality pass so the final
      // accounting never re-tokenizes the kept documents. The flag
      // relation MATERIALIZES before the keep-filter: pushing the
      // predicate through the operator's staged projections re-inlines
      // the token split / n-gram transform into every flag term of the
      // pushed conjunction (15 regexp instances, interpreted — measured
      // ~25x the staged cost), so the fence here IS the optimization
      val keepQ = Cur.qualityFilter(corpus, "doc_id", "text",
          minTokens = 40, maxTokens = 80, maxRepetition = 0.1,
          minStopRatio = 0.01)
        .localCheckpoint()
        .filter(col("keep")).select(col("doc_id"), col("n_tokens"))
      // digest variant: the canonicalization shuffle carries 16-byte keys
      // instead of whole documents (identical keep set, the 100 TB shape)
      val keepers = Dedup.exactByDigest(corpus, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val clean = Cur.contaminationScore(corpus, bench, "doc_id", "text",
          n = 3, threshold = 0.2)
        .filter(!col("contaminated")).select(col("doc_id"))
      val kept = corpus.join(keepQ, Seq("doc_id"))
        .join(keepers, Seq("doc_id"))
        .join(clean, Seq("doc_id"))
      Cur.splitAssign(kept, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
      bench AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
      b AS (SELECT doc_id, ${toksSql} AS w FROM corpus),
      g AS (SELECT doc_id, w,
          [array_to_string(w[i : i + 1], ' ')
           for i in generate_series(1, len(w) - 1)] AS grams
        FROM b),
      m AS (SELECT doc_id,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CASE WHEN len(grams) > 0
               THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
               ELSE 0.0 END AS rep_ratio,
          CASE WHEN len(w) > 0
               THEN CAST(len([t for t in w if t IN
                 ('the','a','of','and','to','in','is','on','for','with')]) AS DOUBLE) / len(w)
               ELSE 0.0 END AS stop_raw
        FROM g),
      q AS (SELECT doc_id FROM m
        WHERE NOT n_tokens < 40 AND NOT n_tokens > 80
          AND NOT rep_ratio > 0.1 AND NOT stop_raw < 0.01),
      keepers AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text),
      csh AS (${shinglesFromSql("corpus", 3)}),
      bsh AS (SELECT DISTINCT sh FROM (${shinglesFromSql("bench", 3)})),
      agg AS (SELECT doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN sh IN (SELECT sh FROM bsh)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM csh GROUP BY doc_id),
      clean AS (SELECT c.doc_id FROM corpus c LEFT JOIN agg a USING (doc_id)
        WHERE NOT ((CASE WHEN COALESCE(a.n_grams, 0) > 0
                    THEN ROUND(CAST(a.n_hit AS DOUBLE) / a.n_grams, 6)
                    ELSE 0.0 END) >= 0.2)),
      kept AS (SELECT c.* FROM corpus c
        JOIN q USING (doc_id) JOIN keepers USING (doc_id)
        JOIN clean USING (doc_id)),
      sp AS (SELECT lang, ${toksSql} AS w,
          CASE WHEN ${md5LongSql("CONCAT(CAST(doc_id AS VARCHAR), 'graft')")}
                 % 1000000 < 800000 THEN 'train'
               WHEN ${md5LongSql("CONCAT(CAST(doc_id AS VARCHAR), 'graft')")}
                 % 1000000 < 900000 THEN 'val'
               ELSE 'test' END AS split
        FROM kept)
      SELECT split, lang, COUNT(*) AS n_docs,
        CAST(SUM(len(w)) AS BIGINT) AS n_tokens
      FROM sp GROUP BY split, lang ORDER BY split, lang"""))

  /** SymSpell-style vocabulary typo pairs: deletion-neighborhood blocking
    * (a word is its own 0-deletion variant) + exact Levenshtein verify on
    * candidates only — never an all-pairs vocabulary join.
    */
  val textTypoPairs: QueryDef = QueryDef(
    "text_typo_pairs",
    (s, dir) => {
      // the synthetic vocabulary has no natural lev-1 neighbors, so the
      // corpus is augmented with a deterministic typo slice (first char of
      // each document dropped → a deletion typo of its first word),
      // mirrored identically
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("text"))
        .unionAll(docs.select(expr("substring(text, 2)").as("text")))
      graft.llm.Dedup.typoPairs(aug, "text")
        .orderBy(col("wa"), col("wb"))
    },
    Some(s"""WITH corpus AS (SELECT text FROM documents
          UNION ALL SELECT substr(text, 2) AS text FROM documents),
      vocab AS (SELECT w AS word, COUNT(*) AS freq
          FROM (SELECT unnest(${toksSql}) AS w FROM corpus)
          WHERE LENGTH(w) <= 24 GROUP BY 1),
      vr AS (SELECT word, freq, unnest(list_distinct(list_append(
            [substr(word, 1, i - 1) || substr(word, i + 1, LENGTH(word) - i)
             for i in generate_series(1, LENGTH(word))],
            word))) AS v
        FROM vocab),
      cand AS (SELECT DISTINCT a.word AS wa, b.word AS wb,
          a.freq AS freq_a, b.freq AS freq_b
        FROM vr a JOIN vr b ON a.v = b.v AND a.word < b.word)
      SELECT wa, wb, CAST(levenshtein(wa, wb) AS INT) AS dist,
        freq_a, freq_b
      FROM cand WHERE levenshtein(wa, wb) <= 1 ORDER BY wa, wb"""))

  private val MaxPiece = 4

  private val MaxLen = 8

  /** One Viterbi DP chain: CTEs `${p}s1..${p}s$MaxLen` over word relation
    * `wf` and piece-score relation `scoresCte`, plus the collected
    * `${p}res` at each word's full length.
    */
  private def viterbiCtes(p: String, scoresCte: String): String =
    viterbiCtesOver(p, scoresCte, "wf")

  private def viterbiCtesOver(p: String, scoresCte: String,
                              wordsCte: String): String = {
    val steps = (1 to MaxLen).map { i =>
      val branches = (1 to math.min(MaxPiece, i)).map { l =>
        val prev = if (i - l == 0) s"${p}s0" else s"${p}s${i - l}"
        s"""SELECT pv.word, pv.freq,
            CAST(pv.sc + ps.pscore AS DECIMAL(27,10)) AS sc,
            CASE WHEN pv.seg = '' THEN ps.piece
                 ELSE pv.seg || '|' || ps.piece END AS seg,
            $l AS plen
          FROM $prev pv JOIN $scoresCte ps
            ON ps.piece = substr(pv.word, ${i - l + 1}, $l)
          WHERE LENGTH(pv.word) >= $i"""
      }.mkString("\n          UNION ALL\n          ")
      s"""${p}s$i AS MATERIALIZED (SELECT word, freq, sc, seg FROM (
          SELECT word, freq, sc, seg, ROW_NUMBER() OVER (PARTITION BY word
            ORDER BY sc DESC, plen DESC, seg DESC) AS rn FROM (
          $branches))
        WHERE rn = 1)"""
    }
    val all = (1 to MaxLen)
      .map(i => s"SELECT word, freq, sc, seg, $i AS i FROM ${p}s$i")
      .mkString("\n          UNION ALL\n          ")
    s"""${p}s0 AS (SELECT word, freq, CAST(0 AS DECIMAL(27,10)) AS sc,
          '' AS seg FROM $wordsCte),
        ${steps.mkString(",\n        ")},
        ${p}res AS (SELECT word, freq, sc, seg FROM (
          $all) WHERE i = LENGTH(word))"""
  }

  /** (word, freq) CTE over a filtered documents slice. */
  private def wordsCte(name: String, where: String): String =
    s"""$name AS MATERIALIZED (SELECT w AS word, COUNT(*) AS freq
          FROM (SELECT unnest(${toksSql}) AS w FROM documents
                WHERE $where)
          WHERE LENGTH(w) <= $MaxLen GROUP BY 1)"""

  private val initCtes: String =
    s"""wf AS MATERIALIZED (SELECT w AS word, COUNT(*) AS freq
          FROM (SELECT unnest(${toksSql}) AS w FROM documents)
          WHERE LENGTH(w) <= $MaxLen GROUP BY 1),
        p1 AS (SELECT word, freq,
            unnest(generate_series(1, LENGTH(word))) AS s FROM wf),
        p2 AS (SELECT word, freq, s,
            unnest(generate_series(1, $MaxPiece)) AS l FROM p1),
        pieces AS MATERIALIZED (SELECT substr(word, s, l) AS piece,
            CAST(SUM(freq) AS BIGINT) AS cnt
          FROM p2 WHERE s + l - 1 <= LENGTH(word) GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pieces),
        ps0 AS MATERIALIZED (SELECT piece,
            CAST(ROUND(LOG10(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
              AS DECIMAL(27,10)) AS pscore
          FROM pieces, tot)"""

  private val emCtes: String =
    s"""em AS (SELECT unnest(string_split(seg, '|')) AS piece, freq
          FROM vres),
        pieces1 AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM em GROUP BY 1),
        tot1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pieces1),
        ps1 AS MATERIALIZED (SELECT piece,
            CAST(ROUND(LOG10(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
              AS DECIMAL(27,10)) AS pscore
          FROM pieces1, tot1)"""

  /** Unigram tokenizer train + segment with one hard-EM (Viterbi-EM)
    * refinement: frequency-initialized piece scores, Viterbi segmentation,
    * re-count from the chosen pieces, re-score, re-segment.
    */
  val unigramSegment: QueryDef = QueryDef(
    "unigram_segment",
    (s, dir) => Unigram.trainSegment(t(s, dir, "documents"), "text",
        maxPiece = MaxPiece, maxLen = MaxLen, emRounds = 1)
      .orderBy(col("word")),
    Some(s"""WITH $initCtes,
        ${viterbiCtes("v", "ps0")},
        $emCtes,
        ${viterbiCtes("e", "ps1")}
      SELECT word, freq,
        CAST(len(string_split(seg, '|')) AS INT) AS n_pieces,
        CAST(sc AS DOUBLE) AS score, seg
      FROM eres ORDER BY word"""))

  /** Piece-candidate counting + frequency scores over an existing word CTE. */
  private def modelCtes(wfName: String): String =
    s"""p1 AS (SELECT word, freq,
            unnest(generate_series(1, LENGTH(word))) AS s FROM $wfName),
        p2 AS (SELECT word, freq, s,
            unnest(generate_series(1, $MaxPiece)) AS l FROM p1),
        pieces AS MATERIALIZED (SELECT substr(word, s, l) AS piece,
            CAST(SUM(freq) AS BIGINT) AS cnt
          FROM p2 WHERE s + l - 1 <= LENGTH(word) GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pieces),
        ps0 AS MATERIALIZED (SELECT piece,
            CAST(ROUND(LOG10(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
              AS DECIMAL(27,10)) AS pscore
          FROM pieces, tot)"""

  /** Fixed-model replay (the bpe_encode precedent): train on the
    * doc_id % 5 != 0 slice (init + one hard-EM round), freeze the piece
    * scores, Viterbi-segment the held-out fifth's words. Held-out words
    * with no full-cover path under the trained pieces drop (honest OOV).
    */
  val unigramEncode: QueryDef = QueryDef(
    "unigram_encode",
    (s, dir) => Unigram.trainEncode(t(s, dir, "documents"), "text",
        isTrain = col("doc_id") % 5 =!= 0,
        maxPiece = MaxPiece, maxLen = MaxLen, emRounds = 1)
      .orderBy(col("word")),
    Some(s"""WITH ${wordsCte("wf", "doc_id % 5 != 0")},
        ${modelCtes("wf")},
        ${viterbiCtes("v", "ps0")},
        $emCtes,
        ${wordsCte("hf", "doc_id % 5 = 0")},
        ${viterbiCtesOver("h", "ps1", "hf")}
      SELECT word, freq,
        CAST(len(string_split(seg, '|')) AS INT) AS n_pieces,
        CAST(sc AS DOUBLE) AS score, seg
      FROM hres ORDER BY word"""))

  /** Corpus n-gram diversity for n = 1..3 — the templated-text signal. */
  val textNgramDiversity: QueryDef = QueryDef(
    "text_ngram_diversity",
    (s, dir) => graft.llm.TextAnalysis.ngramDiversity(
        t(s, dir, "documents"), "doc_id", "text", ns = Seq(1, 2, 3))
      .orderBy(col("n")),
    Some((1 to 3).map { n =>
      s"""SELECT $n AS n,
          (SELECT CAST(SUM(GREATEST(len(${toksSql}) - ${n - 1}, 0)) AS BIGINT)
           FROM documents) AS total_ngrams,
          (SELECT COUNT(*) FROM (SELECT DISTINCT sh
             FROM (${shinglesSql(n)}))) AS distinct_ngrams,
          ROUND(CAST((SELECT COUNT(*) FROM (SELECT DISTINCT sh
              FROM (${shinglesSql(n)}))) AS DOUBLE) /
            (SELECT SUM(GREATEST(len(${toksSql}) - ${n - 1}, 0))
             FROM documents), 6) AS diversity"""
    }.mkString("\n      UNION ALL\n      ") + "\n      ORDER BY n"))

  /** Syllable-density readability proxy: vowel-group count approximates
    * syllables (the Flesch-family building block that needs no dictionary);
    * per doc the token count, vowel-group count, and density.
    */
  val syllableDensity: QueryDef = QueryDef(
    "text_syllable_density",
    (s, dir) => {
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val syl = size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0)))
      t(s, dir, "documents").select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          syl.cast("long").as("n_syllables"))
        .withColumn("density",
          when(col("n_tokens") > 0,
            round(col("n_syllables").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
        CAST(len(${toksSql}) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
          AS n_syllables,
        CASE WHEN len(${toksSql}) > 0
             THEN ROUND(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS DOUBLE) / len(${toksSql}), 6)
             ELSE 0.0 END AS density
      FROM documents ORDER BY doc_id"""))

  /** WordPiece greedy encode (third tokenizer family): position-aware
    * vocabulary + longest-match-first scan, mirrored as maxLen unrolled
    * greedy steps — state is ONE row per word (position + segmentation so
    * far), done rows carried through, unmatchable words fall out of the
    * chain and surface as [UNK] via the final left join.
    */
  val wordpieceEncode: QueryDef = {
    val maxPiece = 4; val maxLen = 8; val minCount = 3
    val steps = (1 to maxLen).map { i =>
      s"""g$i AS MATERIALIZED (
        SELECT word, freq, pos, seg FROM (
          SELECT g.word, g.freq, g.pos + LENGTH(v.piece) AS pos,
            CASE WHEN g.pos = 0 THEN v.piece
                 ELSE g.seg || '|' || '##' || v.piece END AS seg,
            ROW_NUMBER() OVER (PARTITION BY g.word
              ORDER BY LENGTH(v.piece) DESC, v.piece) AS rn
          FROM g${i - 1} g JOIN voc v
            ON v.is_start = (g.pos = 0)
           AND v.piece = substr(g.word, g.pos + 1, LENGTH(v.piece))
          WHERE g.pos < LENGTH(g.word))
        WHERE rn = 1
        UNION ALL
        SELECT word, freq, pos, seg FROM g${i - 1}
        WHERE pos >= LENGTH(word))"""
    }.mkString(",\n        ")
    QueryDef(
      "wordpiece_encode",
      (s, dir) => graft.llm.WordPiece.encode(
          t(s, dir, "documents"), "text", maxPiece = maxPiece,
          maxLen = maxLen, minCount = minCount.toLong)
        .orderBy(col("word")),
      Some(s"""WITH wf AS MATERIALIZED (SELECT w AS word, COUNT(*) AS freq
          FROM (SELECT unnest(${toksSql}) AS w FROM documents)
          WHERE LENGTH(w) <= $maxLen GROUP BY 1),
        pc AS (SELECT word, freq,
            unnest(generate_series(1, LENGTH(word))) AS s FROM wf),
        pc2 AS (SELECT word, freq, s,
            unnest(generate_series(1, LEAST($maxPiece, LENGTH(word) - s + 1)))
              AS l FROM pc),
        voc AS MATERIALIZED (SELECT substr(word, s, l) AS piece,
            s = 1 AS is_start, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM pc2 GROUP BY 1, 2 HAVING SUM(freq) >= $minCount),
        g0 AS (SELECT word, freq, 0 AS pos, '' AS seg FROM wf),
        $steps,
        done AS (SELECT word, freq, seg FROM g$maxLen
          WHERE pos >= LENGTH(word))
      SELECT w.word, w.freq, (d.word IS NULL) AS is_unk,
        CAST(CASE WHEN d.word IS NOT NULL
             THEN len(string_split(d.seg, '|')) END AS INT) AS n_pieces,
        d.seg
      FROM wf w LEFT JOIN done d USING (word) ORDER BY w.word"""))
  }

  /** Chi-squared distinctive terms per language over documents. */
  val chi2Terms: QueryDef = {
    val minCount = 20; val k = 10
    QueryDef(
      "text_chi2_terms",
      (s, dir) => graft.llm.TextAnalysis.chi2Terms(
          t(s, dir, "documents"), "lang", "text", minCount = minCount, k = k)
        .orderBy(col("class"), col("rank")),
      Some(s"""WITH occ AS (SELECT lang AS class,
          unnest(${toksSql}) AS token FROM documents),
        a AS (SELECT class, token, CAST(COUNT(*) AS BIGINT) AS a
          FROM occ GROUP BY 1, 2),
        tt AS (SELECT token, CAST(SUM(a) AS BIGINT) AS tt FROM a
          GROUP BY 1 HAVING CAST(SUM(a) AS BIGINT) >= $minCount),
        ct AS (SELECT class, CAST(SUM(a) AS BIGINT) AS ct FROM a GROUP BY 1),
        nn AS (SELECT CAST(SUM(a) AS BIGINT) AS nn FROM a),
        x AS (SELECT class, token, a, tt,
          ROUND(CAST(nn AS DOUBLE) *
              (CAST(a AS DOUBLE) * CAST(nn AS DOUBLE) -
                CAST(tt AS DOUBLE) * CAST(ct AS DOUBLE)) *
              (CAST(a AS DOUBLE) * CAST(nn AS DOUBLE) -
                CAST(tt AS DOUBLE) * CAST(ct AS DOUBLE)) /
            (CAST(tt AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(tt AS DOUBLE)) *
              CAST(ct AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(ct AS DOUBLE))),
            6) AS chi2
          FROM a JOIN tt USING (token) JOIN ct USING (class) CROSS JOIN nn),
        rk AS (SELECT class, token, a, tt, chi2, ROW_NUMBER() OVER
          (PARTITION BY class ORDER BY chi2 DESC, token) AS rank FROM x)
      SELECT class, CAST(rank AS INT) AS rank, token, a AS n_in_class,
        tt AS n_total, chi2
      FROM rk WHERE rank <= $k ORDER BY class, rank"""))
  }

  /** Per-language unigram entropy + KL divergence vs the pooled corpus. */
  val entropyKl: QueryDef = QueryDef(
    "text_entropy_kl",
    (s, dir) => graft.llm.TextAnalysis.entropyKl(
        t(s, dir, "documents"), "lang", "text")
      .orderBy(col("class")),
    Some(s"""WITH occ AS (SELECT lang AS class,
        unnest(${toksSql}) AS token FROM documents),
      a AS (SELECT class, token, CAST(COUNT(*) AS BIGINT) AS a
        FROM occ GROUP BY 1, 2),
      tt AS (SELECT token, CAST(SUM(a) AS BIGINT) AS tt FROM a GROUP BY 1),
      ct AS (SELECT class, CAST(SUM(a) AS BIGINT) AS ct FROM a GROUP BY 1),
      nn AS (SELECT CAST(SUM(a) AS BIGINT) AS nn FROM a),
      j AS (SELECT class, ct,
        CAST(a AS DOUBLE) / CAST(ct AS DOUBLE) AS p,
        CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE) AS q
        FROM a JOIN tt USING (token) JOIN ct USING (class) CROSS JOIN nn)
    SELECT class, CAST(COUNT(*) AS BIGINT) AS vocab,
      ANY_VALUE(ct) AS n_tokens,
      ROUND(CAST(SUM(CAST(-p * LN(p) AS DECIMAL(27,10))) AS DOUBLE), 6)
        AS entropy_nats,
      ROUND(CAST(SUM(CAST(p * LN(p / q) AS DECIMAL(27,10))) AS DOUBLE), 6)
        AS kl_vs_corpus
    FROM j GROUP BY class ORDER BY class"""))

  /** Sentence-level stats per document: sentence count and 6-dp mean
    * sentence length in words. Sentences split on [.!?] runs; empty
    * segments (leading punctuation, trailing terminator) are dropped on
    * both sides.
    */
  val textSentences: QueryDef = QueryDef(
    "text_sentences",
    (s, dir) => {
      val segs = split(col("text"), "[.!?]+")
      val sents = filter(transform(segs, t => trim(t)), t => t =!= "")
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(sents).as("n_sentences"),
          round(
            aggregate(sents, lit(0L),
              (acc, x) => acc + size(split(x, "[ \\t\\n\\r\\f]+")))
              .cast("double") / greatest(size(sents), lit(1)).cast("double"),
            6).as("mean_sentence_words"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH segs AS (SELECT doc_id,
        [t FOR t IN list_transform(string_split_regex(text, '[.!?]+'),
          x -> trim(x)) IF t <> ''] AS sents
        FROM documents)
    SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences,
      ROUND(CAST(list_sum([CAST(len(string_split_regex(x, '[ \t\n\r\f]+')) AS BIGINT)
          FOR x IN sents]) AS DOUBLE) /
        CAST(GREATEST(len(sents), 1) AS DOUBLE), 6) AS mean_sentence_words
    FROM segs ORDER BY doc_id"""))

  /** Tokenizer fertility: pieces per word and characters per piece for
    * the fixed-merge BPE encoder, per document — the metric that decides
    * whether a tokenizer suits a corpus.
    */
  val tokenizerFertility: QueryDef = {
    val merges = Seq(("e", "r"), ("t", "h"), ("th", "e"))
    val replayed = merges.foldLeft("sym0") { case (s, (l, r)) =>
      s"trim(replace(replace(' ' || replace($s, ' ', '  ') || ' ', " +
        s"' $l  $r ', ' $l$r '), '  ', ' '))"
    }
    QueryDef(
      "tokenizer_fertility",
      (s, dir) => graft.llm.Bpe.encode(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", merges)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(length(col("w"))).as("n_chars"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          round(col("n_pieces").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"),
          round(col("n_chars").cast("double") /
            col("n_pieces").cast("double"), 6).as("chars_per_piece"))
        .orderBy(col("doc_id")),
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest([{'tok_idx': CAST(j - 1 AS INT), 'w': t[j]}
                                 for j in generate_series(1, len(t))],
                                recursive := true)
          FROM (SELECT doc_id, ${toksSql} AS t FROM documents
                WHERE doc_id < 100)),
        sym AS (SELECT doc_id, tok_idx, w,
            array_to_string([w[j] for j in generate_series(1, len(w))], ' ')
              || ' </w>' AS sym0
          FROM tok),
        enc AS (SELECT doc_id, w,
            string_split(trim($replayed), ' ') AS pieces
          FROM sym),
        agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
            CAST(SUM(len(pieces)) AS BIGINT) AS n_pieces,
            CAST(SUM(len(w)) AS BIGINT) AS n_chars
          FROM enc GROUP BY 1)
      SELECT doc_id, n_words, n_pieces,
        ROUND(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
          AS fertility,
        ROUND(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 6)
          AS chars_per_piece
      FROM agg ORDER BY doc_id"""))
  }

  /** One-row corpus dataset card: the headline numbers a dataset README
    * carries, each a single-pass aggregate combined by broadcast.
    */
  val datasetCard: QueryDef = QueryDef(
    "corpus_dataset_card",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val basic = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        r6(dmean(col("n_chars").cast("double"))).as("mean_chars"))
      val toks = docs.select(explode(graft.llm.TextAnalysis.tokens(col("text")))
          .as("tok"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("vocab"))
      val dup = docs.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"))
      basic.crossJoin(broadcast(toks)).crossJoin(broadcast(dup))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          col("mean_chars"), col("n_tokens"), col("vocab"), col("dup_docs"))
    },
    Some(s"""WITH basic AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        ROUND(${dmeanSql("CAST(n_chars AS DOUBLE)")}, 6)
          AS mean_chars FROM documents),
      tk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM
        (SELECT unnest(${toksSql}) AS tok
         FROM documents)),
      dp AS (SELECT CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        AS dup_docs FROM
        (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1))
    SELECT n_docs, n_langs, n_sources, mean_chars, n_tokens, vocab, dup_docs
    FROM basic CROSS JOIN tk CROSS JOIN dp"""))

  /** Interpolated Kneser-Ney bigram perplexity on the held-out tenth of
    * the corpus (doc_id % 10 = 0), D = 0.75.
    */
  val knPerplexity: QueryDef = {
    val d = 0.75
    QueryDef(
      "text_kn_perplexity",
      (s, dir) => graft.llm.TextAnalysis.knBigramPerplexity(
          t(s, dir, "documents"), "doc_id", "text",
          col("doc_id") % 10 =!= 0, d = d)
        .orderBy(col("doc_id")),
      Some(s"""WITH base AS (SELECT doc_id, (doc_id % 10 <> 0) AS is_train,
          ${toksSql} AS toks FROM documents),
        bi AS (SELECT doc_id, is_train,
          unnest([{'w1': toks[i - 1], 'w2': toks[i]}
                  for i in generate_series(2, len(toks))],
                 recursive := true)
          FROM base WHERE len(toks) >= 2),
        bc AS MATERIALIZED (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
          FROM bi WHERE is_train GROUP BY 1, 2),
        pf AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw,
          CAST(COUNT(*) AS BIGINT) AS n1p FROM bc GROUP BY 1),
        ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc FROM bc GROUP BY 1),
        tb AS (SELECT CAST(COUNT(*) AS BIGINT) AS tb FROM bc),
        sc AS (SELECT b.doc_id,
          CASE WHEN pf.cw IS NULL THEN
            COALESCE(CAST(ct.nc AS DOUBLE) / CAST(tb.tb AS DOUBLE), 0.0)
          ELSE
            GREATEST(CAST(COALESCE(bc.cb, 0) AS DOUBLE) - $d, 0.0)
              / CAST(pf.cw AS DOUBLE) +
            $d * CAST(pf.n1p AS DOUBLE) / CAST(pf.cw AS DOUBLE) *
              COALESCE(CAST(ct.nc AS DOUBLE) / CAST(tb.tb AS DOUBLE), 0.0)
          END AS p
          FROM bi b
          LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
          LEFT JOIN pf ON pf.w1 = b.w1
          LEFT JOIN ct ON ct.w2 = b.w2
          CROSS JOIN tb
          WHERE NOT b.is_train),
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
          ROUND(CAST(SUM(CASE WHEN p > 0 THEN
              CAST(-LOG10(p) AS DECIMAL(27,10)) END) AS DOUBLE) /
            SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END), 6) AS neg_logp10
          FROM sc GROUP BY 1)
      SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        COALESCE(pd.n_scored, 0) AS n_scored, pd.neg_logp10
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
      LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"""))
  }

  /** Distinct word-bigram shingles of a named CTE (the Ora.shinglesSql
    * shape parameterized over the source relation).
    */
  private def shSql(src: String): String =
    s"""SELECT DISTINCT doc_id, unnest([array_to_string(w[g : g + 1], ' ')
        for g in generate_series(1, len(w) - 1)]) AS sh
        FROM (SELECT doc_id, ${toksSql} AS w FROM $src)"""

  /** DSIR importance weights: the non-English pool scored against the
    * English target distribution over 10k hashed bigram buckets —
    * documents whose feature bag looks more target-like than pool-like
    * get `selected`. The whole method (hashing, smoothed distributions,
    * log-likelihood-ratio sum, threshold selection) under the exact gate.
    */
  val dsirImportance: QueryDef = {
    val nBuckets = 10000
    val bSql = (shExpr: String) =>
      s"${md5LongSql(s"'dsir:' || $shExpr")} % $nBuckets"
    QueryDef(
      "curation_dsir",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llm.Curation.dsirWeights(
            corpus = docs.filter(col("lang") =!= "en"),
            target = docs.filter(col("lang") === "en"),
            "doc_id", "text", n = 2, nBuckets = nBuckets)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE lang <> 'en'),
        target AS (SELECT * FROM documents WHERE lang = 'en'),
        tsh AS (${shSql("target")}),
        csh AS MATERIALIZED (${shSql("corpus")}),
        ctb AS MATERIALIZED (SELECT ${bSql("sh")} AS b, COUNT(*) AS ct
          FROM tsh GROUP BY 1),
        crb AS MATERIALIZED (SELECT ${bSql("sh")} AS b, COUNT(*) AS cr
          FROM csh GROUP BY 1),
        tot AS (SELECT (SELECT SUM(ct) FROM ctb) AS nt,
                       (SELECT SUM(cr) FROM crb) AS nr),
        w AS MATERIALIZED (SELECT b,
            LN((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) /
                CAST(nt + $nBuckets AS DOUBLE)) /
               (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) /
                CAST(nr + $nBuckets AS DOUBLE))) AS lw
          FROM ctb FULL JOIN crb USING (b) CROSS JOIN tot),
        pd AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
            ROUND(CAST(SUM(CAST(lw AS DECIMAL(27,10))) AS DOUBLE), 6)
              AS weight
          FROM (SELECT doc_id, ${bSql("sh")} AS b FROM csh) c
          JOIN w USING (b) GROUP BY 1)
      SELECT d.doc_id, COALESCE(pd.n_feats, 0) AS n_feats,
        COALESCE(pd.weight, 0.0) AS weight,
        COALESCE(pd.weight, 0.0) > 0.0 AS selected
      FROM corpus d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"""))
  }

  /** Zipf slope of the corpus token distribution over the top-100 ranks
    * (natural text ≈ −1) — OLS on (ln rank, ln freq) from one
    * sufficient-statistics pass; the rank window runs on the
    * vocabulary-bounded distinct-token relation (census-allowlisted).
    */
  val zipfFit: QueryDef = QueryDef(
    "text_zipf_fit",
    (s, dir) => graft.llm.TextAnalysis.zipfFit(
      t(s, dir, "documents"), "text", topN = 100),
    Some(s"""WITH freq AS (SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(${toksSql}) AS tok FROM documents)
          GROUP BY 1),
        r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
          FROM freq),
        xy AS (SELECT LN(CAST(rank AS DOUBLE)) AS x,
            LN(CAST(cnt AS DOUBLE)) AS y
          FROM r WHERE rank <= 100),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(y AS DECIMAL(27,10))) AS DOUBLE) AS sy,
          CAST(SUM(CAST((x * x) AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST((x * y) AS DECIMAL(27,10))) AS DOUBLE) AS sxy
          FROM xy)
      SELECT n AS n_ranks,
        ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
              (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
        ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
              (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) /
              CAST(n AS DOUBLE), 6) AS intercept
      FROM m"""))

  /** Vocabulary coverage curve: the share of total token OCCURRENCES the
    * top-N most frequent tokens cover, for N ∈ {10, 100, 1000} — the
    * number that sizes a tokenizer vocabulary. One rank window on the
    * vocabulary-bounded distinct-token relation (census-allowlisted), one
    * aggregation for all three thresholds.
    */
  val vocabCoverage: QueryDef = {
    val thresholds = Seq(10, 100, 1000)
    QueryDef(
      "text_vocab_coverage",
      (s, dir) => {
        val freq = Core.fanOut(t(s, dir, "documents"))
          .select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))
        val ranked = freq.withColumn("rank", row_number().over(w))
        val covAggs = thresholds.map(n =>
          sum(when(col("rank") <= n, col("cnt")).otherwise(0L)).as(s"c$n"))
        val m = ranked.agg(sum(col("cnt")).as("total"), covAggs: _*)
        val entries = thresholds.map(n =>
          struct(lit(n).as("n_top"), col(s"c$n").as("covered")))
        m.select(col("total"), explode(array(entries: _*)).as("e"))
          .select(col("e.n_top"), col("e.covered"), col("total"),
            round(col("e.covered").cast("double") /
              col("total").cast("double"), 6).as("share"))
          .orderBy(col("n_top"))
      },
      Some {
        val cases = thresholds.map(n =>
          s"CAST(SUM(CASE WHEN rank <= $n THEN cnt ELSE 0 END) AS BIGINT) AS c$n")
          .mkString(", ")
        val rows = thresholds.map(n =>
          s"SELECT $n AS n_top, c$n AS covered, total FROM m")
          .mkString("\n          UNION ALL ")
        s"""WITH freq AS (SELECT tok, COUNT(*) AS cnt
            FROM (SELECT unnest(${toksSql}) AS tok FROM documents)
            GROUP BY 1),
          r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
            FROM freq),
          m AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, $cases FROM r)
        SELECT n_top, covered, total,
          ROUND(CAST(covered AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        FROM ($rows) ORDER BY n_top"""
      })
  }

  /** Quality-classifier pipeline (the CCNet/GPT-style corpus filter as
    * ONE gated dataflow): train a logistic model on per-doc features
    * (scaled token count, scaled char count) against a weak source-based
    * label via the unrolled IRLS dataflow, then SCORE every document
    * with the fitted (6-dp-rounded, hence engine-identical) coefficients
    * — training AND inference both under the exact hash gate. The
    * coefficient collect is 1 row (model scale); scoring is one map-side
    * projection over the corpus.
    */
  val qualityClassifier: QueryDef = {
    val iters = 3
    QueryDef(
      "curation_quality_classifier",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"),
            (substring(col("source"), 4, 10).cast("int") < 5)
              .cast("double").as("y"),
            (size(TextAnalysis.tokens(col("text"))).cast("double") / 100.0)
              .as("x1"),
            (col("n_chars").cast("double") / 1000.0).as("x2"))
          .localCheckpoint() // the fit scans it per iteration + the scorer
        val b = graft.ml.Glm.logisticIrls(base, "y", "x1", "x2",
          iters = iters).collect()(0)
        val (b0, b1, b2) = (b.getDouble(1), b.getDouble(2), b.getDouble(3))
        // score = the LOGIT, not the sigmoid: monotone-equivalent (same
        // ranking, predicted_pos = logit >= 0 ⟺ p >= 0.5) and pure
        // arithmetic over 6-dp coefficient literals — identical IEEE bits
        // on both engines, where exp()'s 1-ulp cross-engine divergence
        // flipped one document's rounded sigmoid at sf0.1
        val logit = lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2")
        base.select(col("doc_id"), round(logit, 6).as("score"),
            (logit >= 0.0).as("predicted_pos"), (col("y") === 1.0).as("is_pos"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS MATERIALIZED (SELECT doc_id,
          CAST(CAST(substr(source, 4) AS INT) < 5 AS DOUBLE) AS y,
          CAST(len(${toksSql}) AS DOUBLE) / 100.0 AS x1,
          CAST(n_chars AS DOUBLE) / 1000.0 AS x2
          FROM documents),
        bet0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
        ${irlsStepsSql(iters)},
        fin AS (SELECT ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1,
          ROUND(b2, 6) AS b2 FROM bet$iters),
        sc AS (SELECT doc_id, y,
          f.b0 + f.b1 * x1 + f.b2 * x2 AS logit
          FROM base CROSS JOIN fin f)
      SELECT doc_id, ROUND(logit, 6) AS score, logit >= 0.0 AS predicted_pos,
        (y = 1.0) AS is_pos
      FROM sc ORDER BY doc_id"""))
  }

  val all: Seq[QueryDef] = Seq(
    multimodalChunks, textQuality, textTokens, textLangId, textVocab, textFingerprint,
    multimodal, textRepetition, decontaminate, tfidfTopK, bm25Rank, piiRedact,
    packSequences, corpusMixture, textSurprisal, curationQualityFilter, chunkDocuments,
    mixtureWeights, textNormalize, textPerplexity, bpeTrain, bpeEncode, textHtmlStrip,
    corpusShuffle, curationDomainCap, textNbLangid, curationWordlistScreen,
    curationPipelineE2e, textTypoPairs, unigramSegment, unigramEncode, textNgramDiversity,
    syllableDensity, wordpieceEncode, chi2Terms, entropyKl, textSentences,
    tokenizerFertility, datasetCard, knPerplexity, dsirImportance, zipfFit, vocabCoverage,
    qualityClassifier)
}
