package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.dsum

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, deterministic sampling, and PII redaction — the
  * curation steps that sit between dedup and tokenization in a 100 TB
  * pipeline. All are single-pass column expressions, bounded broadcasts,
  * or one keyed shuffle; no RNG state, so every run (and every engine)
  * produces the identical sample/score.
  */
object Curation {

  /** Benchmark decontamination: for each corpus document, the fraction of
    * its distinct word n-grams that appear anywhere in the benchmark set
    * (the standard eval-contamination check before training).
    *
    * Scale shape: the benchmark shingle set is small by definition (eval
    * suites are MBs, not TBs) → distinct once and broadcast; the corpus
    * side is one shingle explode + ONE aggregation on doc id (the hit flag
    * rides along as a broadcast-joined 0/1, so totals and hits come out of
    * the same shuffle). Documents shorter than n tokens have no shingles:
    * they surface with n_grams = 0, overlap 0.0, not flagged.
    */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         threshold: Double = 0.2): DataFrame = {
    val benchSh = Dedup.shingles(benchmark, idCol, textCol, n)
      .select(col("sh")).distinct().withColumn("__hit", lit(1L))
    val perDoc = Dedup.shingles(corpus, idCol, textCol, n)
      .join(broadcast(benchSh), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
           coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_hit"))
      .withColumn("overlap",
        when(col("n_grams") > 0,
          round(col("n_hit").cast("double") / col("n_grams"), 6))
        .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap") >= threshold)
  }

  /** Hash bucket in [0, 1e6) from the row id + salt — the deterministic
    * coin every sampling operator here flips. md5-based so the DuckDB
    * oracle can mirror it bit-for-bit; production pipelines can swap in
    * [[TextAnalysis.fastHash64]] (same downstream semantics, ~10× cheaper).
    */
  def sampleBucket(id: Column, salt: String): Column =
    TextAnalysis.md5Long(concat(id.cast("string"), lit(salt))) % 1000000L

  /** Deterministic stratified Bernoulli sample: keep a row iff its hash
    * bucket falls under the stratum's rate. A pure filter — no shuffle, no
    * RNG state, independent of partitioning and input order, reproducible
    * across runs and engines; each stratum is sampled at its own rate
    * (exact in expectation). Strata missing from `rates` use `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "graft"): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(sampleBucket(col(idCol), salt).cast("double") < rate * 1e6)
  }

  /** Deterministic per-stratum "reservoir": the k rows with the smallest
    * hash values in each stratum — a uniform-without-replacement sample
    * that is stable across runs, engines, and input order. Selection runs
    * through the bounded [[graft.functions.Aggregators.BottomKLong]]
    * aggregator (exact 60-bit long ordering, at most k candidates per
    * partial buffer), so a hot stratum never sorts all its rows in one
    * partition — the exchange carries |strata|·k (hash, id) pairs however
    * large the stratum is, then the k·|strata| winners broadcast-join back
    * to the full rows. Requires a UNIQUE, integral, non-null `idCol` (a
    * document id): the id is both the hash seed and the join-back key.
    */
  def hashReservoir(df: DataFrame, idCol: String, strataCol: String,
                    k: Int, salt: String = "graft"): DataFrame = {
    // enforce the documented integral-id contract loudly: a string/uuid id
    // would cast to null below and silently return an EMPTY "sample"
    graft.Core.requireIntegral(df, idCol, "hashReservoir")
    val h = TextAnalysis.md5Long(concat(col(idCol).cast("string"), lit(salt)))
    val bottomK = udaf(new graft.functions.Aggregators.BottomKLong(k))
    val picked = df
      .select(col(strataCol).as("__stratum"), h.as("__h"),
              col(idCol).cast("long").as("__id"))
      .filter(col("__id").isNotNull)
      .groupBy(col("__stratum"))
      .agg(bottomK(col("__h"), col("__id")).as("hits"))
      .select(posexplode(col("hits")))
      .select(col("col.id").as("__id"),
              (col("pos") + 1).cast("int").as("sample_rank"))
    df.join(broadcast(picked), col(idCol) === col("__id")).drop("__id")
  }

  /** Deterministic WEIGHTED sample without replacement (Efraimidis &
    * Spirakis 2006, A-ES): each row draws u ∈ (0, 1] from its id hash and
    * scores key = ln(u) / w — a monotone transform of the classic u^(1/w),
    * avoiding pow's extra rounding step — and the k largest keys win, so
    * selection probability is proportional to weight, exactly the
    * quality-weighted corpus subsample an LLM data pipeline draws.
    * Same determinism contract as [[hashReservoir]]: md5 coin, no RNG
    * state, reproducible across runs/engines/input order; the key rounds
    * to 10 dp before the order-sensitive selection (the one ln() call is
    * correctly-rounded-to-1-ulp on both engines — the tfidf/bm25
    * precedent) with the id as tie-break.
    *
    * Scale shape: one map-side projection, then a k-row TakeOrdered
    * (per-partition top-k + driver merge — never a global sort).
    * Non-positive / NULL weights never sample (a zero-weight row has
    * key −∞; excluding it explicitly keeps the contract loud).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     salt: String = "graft"): DataFrame = {
    require(k > 0, s"weightedSample: k must be > 0, got $k")
    graft.Core.requireIntegral(df, idCol, "weightedSample")
    val u = (TextAnalysis.md5Long(concat(lit(s"wrs$salt:"),
      col(idCol).cast("string"))).cast("double") + lit(1.0)) /
      lit(math.pow(2.0, 60))
    val picked = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol),
        col(weightCol).cast("double").as("weight"),
        round(log(u) / col(weightCol).cast("double"), 10).as("wkey"))
      .orderBy(col("wkey").desc, col(idCol))
      .limit(k)
    picked.withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("wkey").desc, col(idCol))).cast("int"))
      .select(col("sample_rank"), col(idCol), col("weight"), col("wkey"))
  }

  /** GPT-style sequence packing layout: documents are (logically)
    * concatenated per shard in deterministic id order and sliced into
    * fixed `maxTokens` training windows; each document gets its start
    * offset in the shard's token stream, the window it starts in, and its
    * offset within that window. The cumulative sum is a window partitioned
    * by the SHARD key — real pipelines pack within shards precisely so no
    * global sequential pass exists; shards scale out independently.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    shardCol: String, maxTokens: Int): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // tokenization happens map-side BEFORE the shard shuffle — floor its
    // parallelism (the window itself re-partitions on the shard key)
    graft.Core.fanOut(df).select(col(shardCol), col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tok"))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("start_off") / maxTokens))
      .withColumn("off_in_bin", col("start_off") % maxTokens)
  }

  /** Composite quality verdict — the Gopher/CCNet-style pipeline terminal
    * that turns the individual quality signals into a keep/drop decision
    * WITH per-rule flags, so a dropped document is attributable to the rule
    * that dropped it (the audit trail every production curation run keeps).
    * One codegen'd projection, shuffle-free except the conditional
    * [[graft.Core.fanOut]] exchange on under-partitioned inputs; the flags
    * reuse [[TextAnalysis.tokens]]/[[TextAnalysis.repetitionRatio]] so the
    * thresholds here stay consistent with the standalone signal operators.
    * Token-less documents flag as short and never divide by zero (the
    * stopword ratio is defined as 0 for them).
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 10, maxTokens: Int = 100000,
                    maxRepetition: Double = 0.2,
                    minStopRatio: Double = 0.0): DataFrame = {
    // STAGED projections, one expensive value per level: the token split,
    // the 2-gram distinct ratio, and the stopword filter are higher-order
    // / regex expressions — outside whole-stage codegen and its common-
    // subexpression elimination — so inlining them into every flag column
    // plus the `keep` conjunction re-evaluated the token split ~10x and
    // the n-gram transform ~3x PER ROW (measured 17x the staged cost).
    // Catalyst's CollapseProject keeps these levels apart exactly
    // because the produced values are non-cheap and multiply referenced.
    // Flag semantics are unchanged: flags compare the RAW stop ratio
    // (rounding stays presentation-only) and the rounded rep ratio,
    // identical trees to the single-projection form.
    //
    // CALLER HAZARD: `.filter(col("keep"))` + column pruning pushes the
    // keep conjunction back THROUGH these stages, re-duplicating the
    // expensive trees into the pushed predicate (undoing the staging).
    // A caller that filters on the flags should fence first — persist or
    // localCheckpoint the flag relation (the llmIngestBatch /
    // curation_pipeline_e2e move) — which is the right shape anyway: the
    // flag relation is the audit artifact, the filter a cheap read of it.
    val toksC = col("__toks")
    val nTok = size(toksC)
    val nStop = size(filter(toksC, t => t.isin(TextAnalysis.Stopwords: _*)))
    val gramsC = col("__grams")
    val flagShort = col("n_tokens") < minTokens
    val flagLong = col("n_tokens") > maxTokens
    val flagRep = col("rep_ratio") > maxRepetition
    val flagStop = col("__stop_raw") < minStopRatio
    graft.Core.fanOut(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        nTok.cast("long").as("n_tokens"),
        when(nTok >= 2,
            transform(sequence(lit(1), nTok - 1),
              i => concat_ws(" ", slice(toksC, i, lit(2)))))
          .otherwise(array().cast("array<string>")).as("__grams"),
        when(nTok > 0, nStop.cast("double") / nTok).otherwise(lit(0.0))
          .as("__stop_raw"))
      .select(col(idCol), col("n_tokens"), col("__stop_raw"),
        when(size(gramsC) > 0,
            round(lit(1.0) - size(array_distinct(gramsC)).cast("double")
              / size(gramsC), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .select(col(idCol),
        col("n_tokens"),
        col("rep_ratio"),
        round(col("__stop_raw"), 6).as("stopword_ratio"),
        flagShort.as("flag_short"),
        flagLong.as("flag_long"),
        flagRep.as("flag_repetitive"),
        flagStop.as("flag_no_stopwords"),
        (!flagShort && !flagLong && !flagRep && !flagStop).as("keep"))
  }

  /** RAG/pretraining document chunking: fixed-size character windows with
    * `overlap` carried between consecutive chunks, each with its 1-based
    * start offset and index — the exploded (doc, chunk) relation retrieval
    * pipelines index and packing pipelines consume. Pure map-side
    * explode + substring (no shuffle beyond the [[graft.Core.fanOut]]
    * parallelism floor), so it is linear in corpus bytes at any scale.
    * Empty documents yield ONE empty chunk (a document never disappears
    * from the chunk relation); the final chunk of a document is truncated,
    * never padded. Contrast [[Multimodal.chunkWindows]], which aggregates
    * to a per-doc window summary — this emits the full chunk relation.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"chunkDocuments needs 0 <= overlap < chunkSize, got size=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val starts = sequence(lit(1), greatest(length(col(textCol)), lit(1)),
      lit(stride))
    graft.Core.fanOut(df)
      .select(col(idCol), col(textCol).as("__t"), posexplode(starts))
      .select(col(idCol),
        col("pos").cast("int").as("chunk_idx"),
        col("col").cast("int").as("chunk_start"),
        col("__t").substr(col("col"), lit(chunkSize)).as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("int"))
  }

  /** Temperature-smoothed corpus mixture weights (the multilingual /
    * multi-source sampling scheme of XLM-R / mT5, arXiv:1911.02116 §3.1):
    * source sampling probability ∝ p^alpha where p is the source's share of
    * documents — alpha = 1 keeps natural proportions, alpha → 0 approaches
    * uniform, upsampling low-resource sources in between. One tiny groupBy
    * (|sources| rows) cached once (lazy persist), then two
    * broadcast scalar joins — the corpus is scanned exactly once however
    * large it is, and the double sums run through the decimal accumulator
    * so partial-aggregation order cannot perturb the published weights.
    */
  def mixtureWeights(df: DataFrame, srcCol: String,
                     alpha: Double): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
      .persist() // tiny; one corpus scan feeds both scalar joins — lazily
                 // cached inside the one final job (the dsirWeights rule)
    val tot = counts.agg(sum(col("n_docs")).cast("double").as("__tot"))
    val smoothed = counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_docs").cast("double") / col("__tot"))
      .withColumn("__pw", pow(col("p"), lit(alpha)))
    val ws = smoothed.agg(
      dsum(col("__pw")).as("__ws"))
    smoothed.crossJoin(broadcast(ws))
      .select(col(srcCol), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("__pw") / col("__ws"), 6).as("weight"))
  }

  /** Deterministic global shuffle into training shards — the fixed,
    * reproducible document order a training run consumes (and the step
    * before [[packSequences]]): shard = salted-hash mod numShards, position
    * within shard = rank by (hash, id) — a new salt is a fresh epoch
    * permutation, the same salt replays bit-identically. One shuffle on the
    * shard key; the per-shard rank window is partitioned (never global), so
    * the sort is |corpus|/numShards rows per task at any scale.
    */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    salt: String = ""): DataFrame = {
    require(numShards > 0, s"shuffleShards: numShards must be > 0, got $numShards")
    val h = TextAnalysis.md5Long(concat(col(idCol).cast("string"), lit(salt)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col(idCol))
    df.select(col(idCol), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("int"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Per-domain document cap — the domain-balancing step web-corpus
    * pipelines run so no single crawl domain dominates the training mix
    * (Gopher §A.2 caps docs/domain; C4/RefinedWeb do the same): keep the
    * `cap` best documents per `domainCol` ranked by (`scoreCol` DESC, id
    * ASC), emit every document with its in-domain rank (NULL past the cap)
    * and the keep verdict. Ranking runs through the bounded
    * [[graft.functions.Aggregators.TopK]] aggregator, NOT a window: a
    * window would sort every hot domain's full row set in one task
    * (crawl-domain frequencies are maximally skewed — that is the reason
    * this operator exists), while the aggregator admits at most `cap`
    * candidates per partial buffer, so the exchange carries
    * |domains|·cap rows however hot the domain. Winners broadcast-join
    * back to the corpus. Rows with a NULL score never rank (they surface
    * with NULL rank, keep = false) — the aggregator's (Double, Long)
    * encoder is non-nullable, and an unscored document should not displace
    * a scored one.
    */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                scoreCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"domainCap: cap must be > 0, got $cap")
    graft.Core.requireIntegral(df, idCol, "domainCap")
    val topk = udaf(new graft.functions.Aggregators.TopK(cap))
    val winners = graft.Core.fanOut(df)
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(domainCol))
      .agg(topk(col(scoreCol).cast("double"), col(idCol).cast("long")).as("hits"))
      .select(posexplode(col("hits")))
      .select(col("col.id").as(idCol), (col("pos") + 1).cast("int").as("rank"))
    df.select(col(idCol), col(domainCol))
      .join(Dedup.maybeBroadcast(winners), Seq(idCol), "left")
      .withColumn("keep", col("rank").isNotNull)
  }

  /** Email / phone patterns chosen to behave identically under Java regex
    * (Spark) and RE2 (DuckDB): character classes + `\b` only, no lookaround.
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction: count and mask email / phone-shaped spans. Pure
    * codegen'd projection — regexp_extract_all for the counts,
    * regexp_replace for the masking. Linear at any scale; shuffle-free
    * except the conditional [[graft.Core.fanOut]] exchange, which fires only
    * on under-partitioned (i.e. small) inputs so the regex work fans out.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Core.fanOut(df).select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
                     PhonePattern, "<PHONE>").as("redacted"))

  /** Wordlist screening (the toxicity/deny-list gate of RefinedWeb/Gopher
    * curation): per-document hit counts and hit fraction against a term
    * list, flagged above `maxFraction`. The list rides the plan as an
    * inlined literal array (real lists are 10²–10⁴ terms — far under any
    * broadcast concern), so the whole screen is a ZERO-shuffle map-side
    * projection: token counting and membership run inside one
    * whole-stage-codegen'd filter over the token array — no explode, no
    * join, linear in corpus bytes.
    */
  def wordlistScreen(df: DataFrame, idCol: String, textCol: String,
                     words: Seq[String], maxFraction: Double): DataFrame = {
    require(words.nonEmpty, "wordlistScreen needs a non-empty wordlist")
    val wl = array(words.sorted.map(lit): _*)
    val toks = TextAnalysis.tokens(col(textCol))
    graft.Core.fanOut(df).select(col(idCol), toks.as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        size(filter(col("__t"), t => array_contains(wl, t)))
          .cast("long").as("n_hits"),
        size(filter(array_distinct(col("__t")), t => array_contains(wl, t)))
          .cast("long").as("n_distinct_hits"))
      .withColumn("hit_fraction",
        when(col("n_tokens") > 0,
          round(col("n_hits").cast("double") / col("n_tokens"), 6))
        .otherwise(lit(0.0)))
      .withColumn("flagged", col("hit_fraction") > maxFraction)
  }

  /** Deterministic train/val/test split assignment: the salted hash bucket
    * of the id picks the split by cumulative weight — a pure projection
    * (the sampling-filter idiom of [[stratifiedSample]] extended to a
    * partition), reproducible across runs, engines, partitionings, and
    * input order; re-running with a grown corpus never moves an existing
    * row between splits.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  weights: Seq[(String, Double)],
                  salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"splitAssign needs weights summing to 1; got $weights")
    // cutoffs as EXACT integers: a double cumsum (0.8 + 0.1 =
    // 0.9000000000000001) would put the boundary bucket on different
    // sides in Spark and an integer-threshold mirror
    val b = sampleBucket(col(idCol), salt)
    val cum = weights.scanLeft(BigDecimal(0)) { case (acc, (_, w)) =>
      acc + BigDecimal(w)
    }.tail.map(c => (c * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val split = weights.zip(cum).reverse
      .foldLeft(lit(weights.last._1)) { case (acc, ((name, _), hi)) =>
        when(b < hi, lit(name)).otherwise(acc)
      }
    df.withColumn("split", split)
  }

  /** DSIR-style importance weighting for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * documents become bags of HASHED n-gram features (distinct word
    * n-grams → md5 buckets, the Bernoulli-feature variant), the target
    * and raw corpora each get an add-one-smoothed bucket distribution,
    * and a document's weight is its summed log-likelihood ratio
    * Σ_f ln(p_target(f) / p_raw(f)). `selected` uses the scale-honest
    * threshold rule (weight > 0 ⇔ the doc looks more target-like than
    * raw-like) rather than a global top-k rank — a corpus-wide rank
    * window is exactly the shape this engine refuses at 100 TB; a
    * quota-constrained caller can histogram the weights and pick the
    * threshold matching its budget (two scans, still no global sort).
    *
    * Scale shape: one shingle explode per corpus, bucket distributions
    * contract to `nBuckets` rows and BROADCAST into the per-doc scoring
    * join, one keyed agg. Determinism: ln-ratio terms are computed as
    * identical IEEE doubles on both engines (LN is cross-engine safe —
    * the tfidf precedent), decimal-truncated before the per-doc sum (the
    * entropy/KL treatment), rounded 6 dp on output.
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, n: Int = 2,
                  nBuckets: Int = 10000): DataFrame = {
    require(n > 0 && nBuckets > 0,
      s"dsirWeights: need n > 0 and nBuckets > 0, got n=$n nBuckets=$nBuckets")
    val bucket = (sh: Column) =>
      TextAnalysis.md5Long(concat(lit("dsir:"), sh)) % nBuckets
    def bucketCounts(df: DataFrame, as: String): DataFrame =
      Dedup.shingles(df, idCol, textCol, n)
        .select(bucket(col("sh")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as(as))
    // each bucket-count relation is a corpus-scale shingle explode
    // contracted to ≤nBuckets rows, and each feeds TWO consumers (the
    // total agg and the ratio join) — persist the contraction so the
    // explode runs once per corpus, not twice. LAZY persist, not
    // localCheckpoint: everything feeds one final job, and an eager
    // checkpoint pays two extra materialization jobs up front (measured
    // 5× slower at sf0.1) where the in-job cache costs nothing extra
    val ct = bucketCounts(target, "ct").persist()
    val cr = bucketCounts(corpus, "cr").persist()
    val tot = ct.agg(sum(col("ct")).as("nt"))
      .crossJoin(cr.agg(sum(col("cr")).as("nr")))
    // per-bucket ln-ratio table: nBuckets rows at most, broadcast
    val w = ct.join(cr, Seq("b"), "full")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        log(((col("ct") + 1).cast("double") /
            (col("nt") + nBuckets).cast("double")) /
          ((col("cr") + 1).cast("double") /
            (col("nr") + nBuckets).cast("double"))).as("lw"))
    val perDoc = Dedup.shingles(corpus, idCol, textCol, n)
      .select(col(idCol), bucket(col("sh")).as("b"))
      .join(broadcast(w), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        round(dsum(col("lw")), 6).as("weight"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_feats"))
      .withColumn("weight", coalesce(col("weight"), lit(0.0)))
      .withColumn("selected", col("weight") > 0.0)
  }
}
