package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsum}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, document
  * fingerprinting. All pure column expressions / single-shuffle aggregations —
  * codegen-friendly, no UDFs, linear at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. Non-whitespace-run extraction (rather
    * than split) avoids empty leading tokens on ragged input; the
    * whitespace class is EXPLICIT (`[ \t\n\r\f]`) because Java's `\s`
    * includes U+000B while RE2's (DuckDB's) does not — the
    * [[normalizeText]] portability rule, applied to every token site.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[^ \\t\\n\\r\\f]+"), lit(0))

  /** BPE-ish sub-tokens: letter runs, digit runs, single punctuation
    * (explicit whitespace class — the [[tokens]] portability rule).
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"), lit(0))

  /** Canonical text normalization — the pass every web-scale pipeline runs
    * BEFORE dedup/shingling so byte-level variance (decomposed accents,
    * case, ragged whitespace) can't split identical content across hash
    * buckets: Unicode NFC (via the native codegen
    * [[graft.plans.NfcNormalize]] expression), lowercase, collapse
    * whitespace runs to one space, trim. The whitespace class is written
    * explicitly (`[ \t\n\r\f]`) because Java's `\s` includes U+000B but
    * RE2's (DuckDB's) does not — the explicit class behaves identically in
    * both engines. Pure codegen projection; shuffle-free except the
    * conditional [[graft.Core.fanOut]] parallelism floor.
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Core.fanOut(df).select(
      col(idCol),
      trim(regexp_replace(
        lower(graft.plans.NfcNormalize.nfcNormalize(col(textCol))),
        "[ \\t\\n\\r\\f]+", " ")).as("normalized"))
      .withColumn("n_chars_norm", length(col("normalized")).cast("int"))

  /** Markup stripping — the boilerplate-removal pass of web-corpus
    * pipelines: drop tags (`<[^>]*>` — no lookarounds, identical under
    * Java regex and RE2), THEN decode the five XML entities (after tag
    * removal, so a decoded `&lt;b&gt;` stays literal text instead of
    * becoming a strippable tag; `&amp;` decodes LAST so `&amp;lt;` yields
    * `&lt;`, the standard order), then collapse whitespace with the
    * engine-portable explicit class. Pure codegen projection.
    */
  def stripMarkup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
    val stripped = regexp_replace(col(textCol), "<[^>]*>", " ")
    val decoded = entities.foldLeft(stripped) { case (c, (e, v)) =>
      call_function("replace", c, lit(e), lit(v))
    }
    graft.Core.fanOut(df).select(
      col(idCol),
      trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " ")).as("clean"))
      .withColumn("n_chars_clean", length(col("clean")).cast("int"))
  }

  /** 60-bit stable content hash from md5 — deterministic across engines
    * (DuckDB mirror: CAST(CONCAT('0x', SUBSTRING(md5(s),1,15)) AS BIGINT)).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side scalar twin of [[md5Long]] — same 60-bit value for the
    * same string, for specs and coefficient-sized driver logic.
    */
  def md5LongOf(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Production-speed 63-bit content hash: xxhash64 (whole-stage-codegen'd,
    * measured ~10× cheaper than the md5 path) masked non-negative so every
    * downstream `% P` / bit-test keeps its semantics. Spark-only — the
    * dedup/fingerprint operators accept either hash; the declared gate
    * queries use [[md5Long]] because md5 is the one hash both engines share
    * (NOTES_r1 §5), production pipelines should pass this one.
    */
  def fastHash64(c: Column): Column =
    xxhash64(c).bitwiseAND(lit(Long.MaxValue))

  /** Quality features per document: char/token counts, punctuation ratio,
    * stopword ratio, mean token length — the standard cheap quality signals
    * for corpus filtering.
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // staged: the token split is a regex outside codegen's subexpression
    // elimination, and three ratio columns reference it — inlined, it
    // re-evaluated per column per row (the qualityFilter lesson; same
    // values, one evaluation). CollapseProject keeps the levels apart
    // (non-cheap producer, multiple consumers).
    val text = col(textCol)
    val nTok = size(col("__toks"))
    val nStop = size(filter(col("__toks"), t => t.isin(Stopwords: _*)))
    val nPunct = size(regexp_extract_all(col("__text"), lit("[.,;:!?]"), lit(0)))
    val nCharsNoWs = length(regexp_replace(col("__text"), "[ \\t\\n\\r\\f]", ""))
    graft.Core.fanOut(df)
      .select(col(idCol), text.as("__text"), tokens(text).as("__toks"))
      .select(col(idCol),
        length(col("__text")).as("n_chars"),
        nTok.as("n_tokens"),
        round(nCharsNoWs.cast("double") / nTok, 6).as("mean_tok_len"),
        round(nPunct.cast("double") / length(col("__text")), 6).as("punct_ratio"),
        round(nStop.cast("double") / nTok, 6).as("stopword_ratio"))
  }

  /** Language-ID by marker-word voting: count marker hits per language,
    * argmax with a deterministic (count desc, lang asc) tie-break; documents
    * with zero hits fall back to "und". One explode + two shuffles on doc id —
    * no per-row model, scales linearly.
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "es" -> "el", "es" -> "la", "es" -> "los", "es" -> "que", "es" -> "es",
    "fr" -> "le", "fr" -> "les", "fr" -> "et", "fr" -> "est", "fr" -> "une",
    "zh" -> "de5", "zh" -> "shi4", "zh" -> "le5", "zh" -> "zai4", "zh" -> "he2")

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val markers = spark.createDataFrame(
      LangMarkers.map { case (l, w) => org.apache.spark.sql.Row(l, w) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("mlang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("mword", org.apache.spark.sql.types.StringType))))
    val tok = graft.Core.fanOut(df)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val hits = tok.join(broadcast(markers), col("tok") === col("mword"))
      .groupBy(col(idCol), col("mlang")).agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("n_hits").desc, col("mlang"))
    val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("mlang").as("pred_lang"), col("n_hits"))
    df.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol),
              coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Repetition ratio: fraction of repeated word n-grams within a document
    * (1 − distinct/total) — the Gopher-style within-doc repetition quality
    * signal. Pure column arithmetic: no explode, no shuffle.
    */
  def repetitionRatio(text: Column, n: Int = 2): Column =
    // PERF HAZARD when `text` is not an attribute: the lambda below
    // re-evaluates it per element. Stage the token split into its own
    // projection and call [[repetitionRatioOfTokens]] instead (the
    // Dedup.shingles rule); this form is kept for single-use callers.
    repetitionRatioOfTokens(tokens(text), n)

  /** [[repetitionRatio]] over an already-split token array — pass an
    * ATTRIBUTE (a staged `tokens(...)` column), so the n-gram lambda's
    * per-element evaluation touches an in-memory array, never re-runs
    * the split.
    */
  def repetitionRatioOfTokens(toks: Column, n: Int = 2): Column = {
    val grams = org.apache.spark.sql.functions.when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    org.apache.spark.sql.functions.when(size(grams) > 0,
      round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 6))
      .otherwise(lit(0.0))
  }

  /** Corpus vocabulary: per-token occurrence count and document frequency,
    * global top-n by (count DESC, token ASC) — the tokenizer-training /
    * vocab-building aggregation. One explode + one two-phase aggregation;
    * the global top-n plans as TakeOrderedAndProject: each partition keeps
    * n candidates and the driver merges |partitions|·n rows, so no global
    * sort exists at any corpus size.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 100): DataFrame =
    graft.Core.fanOut(df)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_total"),
           countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_total").desc, col("tok"))
      .limit(n)

  /** Per-(document, token) TF-IDF with the smoothed idf
    * `ln((1 + N) / (1 + df)) + 1` (sklearn's smooth_idf form — never
    * zero/negative, defined for unseen terms). N arrives as a broadcast
    * 1-row corpus-count relation, NOT a driver-side `count()`: the plan
    * stays lazy and fully distributed. Two keyed aggregations ((doc,tok)
    * then tok), both with map-side partial combine.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spread = graft.Core.fanOut(df)
    // materialized: tf feeds BOTH the document-frequency aggregate and the
    // scoring join, so the lazy form tokenized+exploded+aggregated the
    // corpus twice (the DuckDB mirror MATERIALIZEs tf for the same
    // reason). tf is the post-combine (doc, token) relation — strictly
    // smaller than the token stream it replaces.
    val tf = spread.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_corpus"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * (log((lit(1.0) + col("n_corpus")) /
                               (lit(1.0) + col("df"))) + 1.0), 6))
      .select(col(idCol), col("tok"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 relevance of every document to a fixed bag of query terms
    * (k1/b = the standard 1.2/0.75). The per-term stats are computed on
    * the term-filtered token relation only (|terms| × |docs| upper bound,
    * usually far sparser), then joined back to the per-doc length — one
    * broadcastable stats relation, one keyed join; avgdl and N are 1-row
    * broadcast aggregates. idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spread = graft.Core.fanOut(df)
    // ONE tokenize pass (was three: docLen, the corpus stats' docLen
    // recompute, and the term-filtered explode). The per-doc proxy row
    // (id, dl, query-term hits) is tiny — |docs| rows with a ≤|terms|-ary
    // array — so materializing it costs nothing at any scale, and dl now
    // RIDES the tf grouping keys (dl is functionally dependent on the
    // id), deleting the docLen join outright. Token counts are integers
    // (exact in double), so the re-shape cannot move a bit.
    val base = spread
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("double").as("dl"),
        filter(col("__toks"), t => t.isin(terms: _*)).as("__hits"))
      .localCheckpoint()
    val corpus = base.select(
      count(lit(1)).cast("double").as("n_corpus"),
      avg(col("dl")).as("avgdl"))
    val tf = base.select(col(idCol), col("dl"), explode(col("__hits")).as("tok"))
      .groupBy(col(idCol), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_corpus") - col("df") + 0.5) / (col("df") + 0.5))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(corpus))
      .withColumn("term_score",
        idf * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("term_score")), 6).as("bm25"),
           count(lit(1)).as("n_terms_hit"))
  }

  /** Unigram-LM surprisal quality score: the mean per-token information
    * content −log10 p(token) under the corpus's OWN unigram distribution —
    * the cheap LM-perplexity proxy used to rank documents for quality
    * filtering (a document of globally-rare tokens scores high; boilerplate
    * made of the corpus's most common tokens scores low).
    *
    * Scale shape: the frequency table is one keyed aggregation over the
    * exploded tokens; the total token count rides a broadcast 1-row
    * relation (never a driver count); the token→frequency join shuffles on
    * the token key (the same big-big shape as [[tfidf]]); the per-doc mean
    * is one more keyed agg with decimal accumulation. All map-side
    * combinable, linear at any corpus size. Token-less documents surface
    * with n_tok 0, surprisal NULL.
    */
  /** Corpus n-gram diversity (the distinct-over-total ratio reported by
    * data-quality papers; low diversity = templated/duplicated text): per
    * n, total n-gram instances vs globally-distinct n-grams. The distinct
    * side rides [[Dedup.shingles]] (per-doc distinct explode → one global
    * distinct agg — union of per-doc distinct sets IS the global set);
    * the total side is a pure map-side length sum. |ns| passes over the
    * token arrays, each one aggregation, 1-row output per n.
    */
  def ngramDiversity(df: DataFrame, idCol: String, textCol: String,
                     ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ > 0), s"ngramDiversity needs positive ns; got $ns")
    ns.map { n =>
      val toks = tokens(col(textCol))
      val total = graft.Core.fanOut(df)
        .select(greatest(size(toks) - (n - 1), lit(0)).cast("long").as("c"))
        .agg(sum(col("c")).as("total_ngrams"))
      val dist = Dedup.shingles(df, idCol, textCol, n)
        .select(col("sh")).distinct().agg(count(lit(1)).as("distinct_ngrams"))
      total.crossJoin(dist).select(lit(n).as("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        when(col("total_ngrams") > 0,
          round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6))
          .otherwise(lit(0.0)).as("diversity"))
    }.reduceLeft(_ unionAll _)
  }

  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = graft.Core.fanOut(df)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("tot"))
    val perDoc = tok.join(freq, Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        (-log10(col("cnt").cast("double") / col("tot").cast("double"))).as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
           round(dsum(col("s")) / count(lit(1)), 6).as("surprisal"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tok"))
  }

  /** CCNet-style bigram-LM perplexity filter: train an add-one-smoothed
    * bigram language model on the `isTrain` slice of the corpus, score
    * EVERY document by mean −log10 P(w_i | w_{i−1}) and the derived
    * perplexity 10^mean — the classic quality signal (high perplexity
    * under a clean-reference LM = unnatural text). Differs from
    * [[unigramSurprisal]] in both model order (conditional bigrams, not
    * marginals) and the train/score split (the reference-LM pattern:
    * held-out documents are scored by a model that never saw them).
    * Smoothing: P = (c(w1,w2)+1) / (c(w1·)+V), V = train vocabulary size.
    *
    * Scale shape: bigram construction is MAP-SIDE (adjacent array slots
    * via transform/sequence — no per-token window, no extra shuffle);
    * model counts are two keyed aggregations over train bigrams; V rides
    * a broadcast 1-row relation; scoring is a shuffle join on the bigram
    * key then one per-doc agg with decimal accumulation. Everything
    * map-side combinable, linear in corpus bytes. Documents with <2
    * tokens surface with n_bigrams 0 and NULL scores. The perplexity is
    * derived from the ALREADY-ROUNDED mean so both engines exponentiate
    * identical inputs (pow is not correctly-rounded across libms).
    */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       isTrain: Column): DataFrame = {
    val base = graft.Core.fanOut(df)
      .select(col(idCol), isTrain.as("is_train"), tokens(col(textCol)).as("toks"))
    val bi = base.select(col(idCol), col("is_train"),
        explode(when(size(col("toks")) >= 2,
            transform(sequence(lit(2), size(col("toks"))),
              i => struct(element_at(col("toks"), i - 1).as("w1"),
                          element_at(col("toks"), i).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col(idCol), col("is_train"), col("bg.w1"), col("bg.w2"))
    val trainBi = bi.filter(col("is_train"))
    // derive the prefix totals FROM the bigram counts (c(w1·) = Σ_w2
    // c(w1,w2)) instead of a second corpus-scale aggregation: both model
    // tables then sit on the SAME (w1,w2) exchange, which ReuseExchange
    // dedupes — the train corpus explodes once per plan, with no eager
    // materialization cost (a localCheckpoint here measured 3.6× slower
    // at sf0.1: the checkpoint write dwarfs the saved recompute)
    val bigramCnt = trainBi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val prefixCnt = bigramCnt.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val vocab = base.filter(col("is_train"))
      .select(explode(col("toks")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val perDoc = bi
      .join(bigramCnt, Seq("w1", "w2"), "left")
      .join(prefixCnt, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (-log10((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
                (coalesce(col("cw"), lit(0L)) + col("v")).cast("double"))).as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
           round(dsum(col("s")) / count(lit(1)), 6).as("neg_logp10"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .withColumn("ppl", round(pow(lit(10.0), col("neg_logp10")), 6))
  }

  /** Distinctive terms per class by chi-squared association: for token t
    * and class c with a = count(t in c), the 2×2 contingency reduction
    * gives χ² = N·(a·d − b·c)² / (T·(N−T)·C·(N−C)) with T = token total,
    * C = class total, N = corpus total (all token OCCURRENCES, not doc
    * frequencies). Rare tokens (T < `minCount`) are excluded before
    * ranking — χ² is unstable below ~5 expected counts. Top-`k` per class
    * by (χ² desc, token).
    *
    * Scale shape: one (class, token) count — map-side combinable — then
    * joins against the |vocab|-row token totals (broadcast-sized after the
    * min-count cut) and the |classes|-row class totals. The ranking window
    * partitions by class over the min-count vocabulary only. All χ²
    * arithmetic in double AFTER explicit casts: the intermediate
    * (a·d − b·c)² exceeds int64 at corpus scale, so neither engine is
    * allowed to touch integer multiplication.
    */
  def chi2Terms(df: DataFrame, classCol: String, textCol: String,
                minCount: Long = 20, k: Int = 10): DataFrame = {
    val occ = graft.Core.fanOut(df)
      .select(col(classCol).as("class"), explode(tokens(col(textCol))).as("token"))
    // materialized: FOUR consumers (the three marginal aggregates and the
    // main join) each re-ran the tokenize+explode+agg subtree — the corpus
    // was tokenized four times per query (r13 profile). The (class, token)
    // count relation is vocabulary-bounded, cheap to hold.
    val a = occ.groupBy(col("class"), col("token")).agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val tokTot = a.groupBy(col("token")).agg(sum(col("a")).as("tt"))
      .filter(col("tt") >= minCount)
    val clsTot = a.groupBy(col("class")).agg(sum(col("a")).as("ct"))
    val nTot = a.agg(sum(col("a")).as("nn"))
    val j = a.join(broadcast(tokTot), Seq("token"))
      .join(broadcast(clsTot), Seq("class"))
      .crossJoin(broadcast(nTot))
    val ad = col("a").cast("double"); val td = col("tt").cast("double")
    val cd = col("ct").cast("double"); val nd = col("nn").cast("double")
    // a·d − b·c with b = T−a, c = C−a, d = N−T−C+a simplifies to a·N − T·C
    val num = ad * nd - td * cd
    val chi2 = round(nd * num * num /
      (td * (nd - td) * cd * (nd - cd)), 6)
    val w = Window.partitionBy(col("class"))
      .orderBy(col("chi2").desc, col("token"))
    j.select(col("class"), col("token"), col("a").as("n_in_class"),
        col("tt").as("n_total"), chi2.as("chi2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("class"), col("rank").cast("int").as("rank"), col("token"),
        col("n_in_class"), col("n_total"), col("chi2"))
  }

  /** Phrase lookup against the positional n-gram index: top-`k` documents
    * by occurrence count of an exact multi-word phrase (whitespace
    * tokenization, case-folded), ranked (count desc, id). Overlapping
    * occurrences all count — the index enumerates every token position.
    *
    * Scale shape: the phrase equality filter sits BELOW the per-doc
    * count, so only matching (doc, position) rows reach the shuffle —
    * the exact behavior of probing a standing inverted index with one
    * key, expressed as a query (a real deployment would materialize the
    * (shingle → postings) relation once and reuse it; the per-query plan
    * here is that index build pruned to a single key by the pushed
    * filter). Ranking runs on the |matching docs| relation.
    */
  def phraseTopK(df: DataFrame, idCol: String, textCol: String,
                 phrase: String, k: Int = 10): DataFrame = {
    val words = phrase.trim.toLowerCase.split("\\s+")
    require(words.length >= 2, s"phraseTopK wants a multi-word phrase; got '$phrase'")
    val key = words.mkString(" ")
    val n = words.length
    // staged token split — the Dedup.shingles lambda rule (a lambda body
    // re-evaluates non-attribute children per element)
    val toks = col("__toks")
    val grams = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val counts = graft.Core.fanOut(df)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(grams).as("g"))
      .filter(col("g") === key)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_occur"))
    val w = Window.orderBy(col("n_occur").desc, col(idCol))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("rank").cast("int").as("rank"), col(idCol), col("n_occur"))
  }

  /** Per-class token-distribution divergence: Shannon entropy (nats) of
    * each class's unigram distribution and its KL divergence from the
    * pooled corpus distribution. Irrational per-token terms are truncated
    * to DECIMAL(27,10) before summing — the repo-wide dsum trick — so the
    * sums are merge-order independent and mirror exactly. One (class,
    * token) count feeds both sums; p > 0 for every observed token and
    * q ≥ p·(C/N) > 0, so neither log argument degenerates.
    */
  def entropyKl(df: DataFrame, classCol: String,
                textCol: String): DataFrame = {
    val occ = graft.Core.fanOut(df)
      .select(col(classCol).as("class"), explode(tokens(col(textCol))).as("token"))
    // materialized for the same reason as [[chi2Terms]]: four consumers
    // of the un-materialized count re-tokenized the corpus four times,
    // and the three marginals hash on DIFFERENT keys so ReuseExchange
    // cannot dedupe them (unlike the bigram tables, which share one
    // exchange by construction)
    val a = occ.groupBy(col("class"), col("token")).agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val tokTot = a.groupBy(col("token")).agg(sum(col("a")).as("tt"))
    val clsTot = a.groupBy(col("class")).agg(sum(col("a")).as("ct"))
    val nTot = a.agg(sum(col("a")).as("nn"))
    val j = a.join(broadcast(tokTot), Seq("token"))
      .join(broadcast(clsTot), Seq("class"))
      .crossJoin(broadcast(nTot))
    val p = col("a").cast("double") / col("ct").cast("double")
    val q = col("tt").cast("double") / col("nn").cast("double")
    j.groupBy(col("class"))
      .agg(count(lit(1)).as("vocab"), first(col("ct")).as("n_tokens"),
        round(dsum(-p * log(p)), 6).as("entropy_nats"),
        round(dsum(p * log(p / q)), 6).as("kl_vs_corpus"))
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995, the
    * smoothing every n-gram LM baseline uses): with absolute discount D,
    *   p(w2|w1) = max(c(w1w2) − D, 0)/c(w1·) + λ(w1)·p_cont(w2),
    *   λ(w1) = D·|{w2 : c(w1w2)>0}| / c(w1·),
    *   p_cont(w2) = |{w1 : c(w1w2)>0}| / |distinct bigrams|.
    * Unseen contexts back off to p_cont alone; bigrams with zero
    * probability under the model (unseen continuation word) are dropped
    * and counted as OOV. Scored per held-out document as the mean
    * −log₁₀ p.
    *
    * Scale shape: every model table derives from the ONE (w1, w2) train
    * bigram count (the bigramPerplexity ReuseExchange lesson) — prefix
    * totals, per-context fan-out, continuation counts, and the scalar
    * distinct-bigram total are all keyed aggs of it; scoring is two
    * joins of the held-out bigrams against vocabulary-bounded relations.
    */
  def knBigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                         isTrain: Column, d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"knBigramPerplexity: D must be in (0,1); got $d")
    val base = graft.Core.fanOut(df)
      .select(col(idCol), isTrain.as("is_train"), tokens(col(textCol)).as("toks"))
    val bi = base.select(col(idCol), col("is_train"),
        explode(when(size(col("toks")) >= 2,
            transform(sequence(lit(2), size(col("toks"))),
              i => struct(element_at(col("toks"), i - 1).as("w1"),
                          element_at(col("toks"), i).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col(idCol), col("is_train"), col("bg.w1"), col("bg.w2"))
    val bigramCnt = bi.filter(col("is_train"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val prefix = bigramCnt.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cw"), count(lit(1)).as("n1p"))
    val cont = bigramCnt.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val totB = bigramCnt.agg(count(lit(1)).as("tb"))
    val dd = lit(d)
    val scored = bi.filter(!col("is_train"))
      .join(bigramCnt, Seq("w1", "w2"), "left")
      .join(prefix, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(totB))
      .withColumn("__pcont",
        coalesce(col("nc").cast("double") / col("tb").cast("double"), lit(0.0)))
      .withColumn("__p",
        when(col("cw").isNull, col("__pcont"))
          .otherwise(
            greatest(coalesce(col("cb"), lit(0L)).cast("double") - dd, lit(0.0)) /
              col("cw").cast("double") +
            dd * col("n1p").cast("double") / col("cw").cast("double") *
              col("__pcont")))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__p") > 0, 1L).otherwise(0L)).as("n_scored"),
        round(sum(when(col("__p") > 0, dec(-log10(col("__p"))))).cast("double") /
          sum(when(col("__p") > 0, 1L).otherwise(0L)), 6).as("neg_logp10"))
    df.filter(!isTrain).select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams", "n_scored"))
  }

  /** Document fingerprint: min 60-bit hash over word 5-gram shingles —
    * a winnowing-style rolling fingerprint; identical/near-identical prefixes
    * of content produce identical fingerprints.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, n: Int = 5,
                  hash: Column => Column = md5Long): DataFrame = {
    // staged token split — the Dedup.shingles lambda rule
    val toks = col("__toks")
    val grams = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    // explode, hash in whole-stage codegen, then min with map-side partial
    // aggregation — the shuffle carries one (id, long) per map partition.
    // An in-row `array_min(transform(grams, hash))` variant avoids the
    // explode but evaluates the hash INTERPRETED (higher-order-function
    // lambdas don't codegen): measured 3× slower once scans parallelize.
    graft.Core.fanOut(df)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(grams).as("g"))
      .groupBy(col(idCol))
      .agg(min(hash(col("g"))).as("fingerprint"))
  }

  /** Zipf-law fit of the corpus token frequency distribution: OLS of
    * ln(freq) on ln(rank) over the top-`topN` tokens — the classic
    * corpus-health number (natural text sits near slope −1; synthetic or
    * template-heavy corpora drift). The rank window runs on the DISTINCT
    * TOKEN relation (vocabulary-bounded — the repo-wide contracted-input
    * contract for global windows; census-allowlisted) and the regression
    * is one sufficient-statistics pass over `topN` rows with
    * decimal-truncated ln products (the a21 grouped-OLS treatment).
    * Output: one row (n_ranks, slope, intercept), both rounded 6 dp.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN > 1, s"zipfFit: topN must be > 1, got $topN")
    val freq = graft.Core.fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    val ranked = freq.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val m = ranked.agg(count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    m.select(col("n").as("n_ranks"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nD, 6).as("intercept"))
  }
}
