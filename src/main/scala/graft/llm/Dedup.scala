package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All are shuffle-bounded DataFrame pipelines — the
  * inverted-index / LSH-bucket joins avoid the O(n²) all-pairs comparison, so
  * they scale to corpus sizes where brute force is impossible.
  */
object Dedup {

  val P: Long = 1000000007L

  /** Exact dedup: hash-groupBy on content; canonical id = min id, n = group
    * size. One shuffle on the text (Spark hashes internally); at 100 TB scale
    * group on md5(text) instead to cut shuffle width.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact dedup at corpus scale: group on the 128-bit content digest so the
    * shuffle carries 16-byte keys instead of whole documents (the "group on
    * md5(text)" variant [[exact]]'s doc promises). Collision probability
    * ~2⁻⁶⁴ at any realistic corpus size; output is identical to [[exact]].
    */
  def exactByDigest(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Distinct word n-gram shingles per document: one explode, no shuffle
    * beyond the [[graft.Core.fanOut]] parallelism floor (shingling is the
    * canonical compute-heavy projection — a single-row-group corpus must
    * not tokenize serially on one core).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // the token split STAGES into its own projection before the lambda:
    // a higher-order function's body re-evaluates every non-attribute
    // child PER ELEMENT (no codegen, no CSE inside lambdas), so inlining
    // the regex split made shingling O(tokens²) regex evaluations per
    // document — measured 5-6x slower on real documents, identical rows
    val toks = col("__toks")
    // guard: sequence(1, x) DESCENDS for x < 1 (step defaults to -1), so a
    // doc shorter than n tokens must yield an empty shingle list explicitly
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    // distinct-within-doc via array_distinct BEFORE the explode: the (id, sh)
    // relation is identical, but the global distinct() shuffle disappears
    graft.Core.fanOut(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(array_distinct(
        transform(idx, i => concat_ws(" ", slice(toks, i, lit(n)))))).as("sh"))
  }

  /** Per-doc distinct shingle counts. */
  def shingleSizes(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))

  /** Exact repeated-window duplication profile — the window-quantized form
    * of substring-level exact dedup (spans repeated verbatim across the
    * corpus are the strongest dedup signal; Jaccard/minhash see only
    * whole-document similarity). Every distinct word n-gram window per
    * document is flagged when the identical window text occurs in MORE than
    * one document; per document: window count, cross-doc duplicated window
    * count, duplicated fraction. The cross-doc flag is a count window
    * PARTITIONED BY the shingle — the same exchange the inverted-index
    * self-join rides in [[jaccardPairs]] — and the per-doc rollup is one
    * keyed agg; documents shorter than n tokens surface with zero windows.
    */
  def windowDupStats(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .withColumn("__docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
    val per = sh.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_windows", "n_dup_windows"))
      .withColumn("dup_fraction",
        when(col("n_windows") > 0,
          round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
        .otherwise(lit(0.0)))
  }

  /** N-gram Jaccard similarity via inverted-index self-join: pairs sharing at
    * least one shingle, |A∩B| from the join, J = c/(|A|+|B|−c). Cost is
    * Σ df(shingle)², so hot shingles are capped first: a shingle appearing in
    * more than `maxDf` documents contributes ~df² join rows but almost no
    * Jaccard discrimination — it is dropped from BOTH the intersection and
    * the sizes (Jaccard over the discriminative shingle universe), which
    * bounds the join blowup at maxDf² per shingle.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                   minJaccard: Double = 0.5, maxDf: Int = 1000): DataFrame =
    overlapPairs(df, idCol, textCol, n, maxDf) { scored =>
      scored
        .withColumn("jac", round(col("c") / (col("sza") + col("szb") - col("c")), 6))
        .filter(col("jac") >= minJaccard)
        .select(col("da"), col("db"), col("jac"))
    }

  /** N-gram CONTAINMENT near-dup: for each candidate pair, the fraction of
    * each document's distinct shingles that the other contains —
    * cont_ab = |A∩B|/|A|, cont_ba = |A∩B|/|B|. Containment catches the
    * asymmetric duplication Jaccard misses: a document quoted or embedded
    * wholesale inside a much larger one has containment ≈ 1 for the smaller
    * side while Jaccard ≈ |A|/|B| ≈ 0 (the D4/RefinedWeb-style
    * subset-duplicate check). A pair surfaces when EITHER direction clears
    * `minContainment`; both directions are emitted so the caller can tell
    * subset from mutual near-dup. Same inverted-index + hot-shingle-cap
    * mechanics (and scale shape) as [[jaccardPairs]].
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContainment: Double = 0.8,
                       maxDf: Int = 1000): DataFrame =
    overlapPairs(df, idCol, textCol, n, maxDf) { scored =>
      scored
        .withColumn("cont_ab", round(col("c") / col("sza"), 6))
        .withColumn("cont_ba", round(col("c") / col("szb"), 6))
        .filter(greatest(col("cont_ab"), col("cont_ba")) >= minContainment)
        .select(col("da"), col("db"), col("cont_ab"), col("cont_ba"))
    }

  /** EXACT Jaccard-threshold self-join via PREFIX FILTERING (Chaudhuri et
    * al., "A primitive operator for similarity joins", ICDE 2006; Bayardo
    * et al., "Scaling up all pairs similarity search", WWW 2007) — the
    * no-false-negative complement to [[minhashDedup]] and the
    * no-approximation complement to [[jaccardPairs]]'s hot-shingle cap:
    * every pair with Jaccard ≥ `minJaccard` is returned, with its exact
    * score, and no shingle is dropped.
    *
    * Shape: order the shingle universe globally by (document frequency
    * ASC, shingle ASC) — rarest first — and keep only each document's
    * PREFIX of length |d| − ceil(τ·|d|) + 1 under that order. The prefix
    * filtering principle guarantees any pair with |A∩B| ≥ ceil(τ·max(|A|,
    * |B|)) (implied by jac ≥ τ together with the size-ratio check) shares
    * a token in BOTH prefixes, so candidates come from a prefix⋈prefix
    * equi-join: the fan-out per token is its PREFIX frequency, and hot
    * tokens are exactly the ones the ordering pushes out of prefixes —
    * the candidate bound Σ prefixDf(t)² replaces the uncapped inverted
    * index's Σ df(t)² without giving up exactness. Candidates then
    * exact-verify against per-document shingle arrays.
    *
    * At 100 TB: TWO exchanges of the shingle relation total — document
    * frequency rides a count window on the shingle exchange, and per-doc
    * size + prefix position ride the same id exchange (no groupBy+join
    * round-trips) — then the prefix self-join and a verify join driven by
    * the (small) candidate set, which carries both sizes so no size join
    * reappears at scoring. No all-pairs step, no global window, no collect.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val sh = shingles(df, idCol, textCol, n).cache()
    try {
      val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
      val wId = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      val pref = sh
        .withColumn("__dfc", count(lit(1)).over(wSh))
        .withColumn("sz", count(lit(1)).over(wId))
        .withColumn("__pos",
          row_number().over(wId.orderBy(col("__dfc"), col("sh"))))
        // the -1e-9 inside the ceil is retain-only: a 1-ulp-high τ·|d|
        // product for non-dyadic τ would round the ceil UP and shorten the
        // prefix (a potential false negative); the slack can only ever
        // LENGTHEN it, and a longer prefix only adds candidates that exact
        // verify rejects. The mirror applies the identical expression.
        .filter(col("__pos") <= col("sz") -
          ceil(lit(minJaccard) * col("sz").cast("double") - lit(1e-9)) + 1)
        .select(col(idCol), col("sh"), col("sz"), col("__pos"))
      // positional filter (PPJoin, Xiao et al. WWW 2008): a token matched at
      // prefix positions (pa, pb) bounds the overlap by 1 + min(remaining
      // tokens after it on each side); jac ≥ τ needs overlap ≥
      // τ/(1+τ)·(|A|+|B|), and the FIRST common token in canonical order
      // maximizes the bound, so filtering per joined token + distinct keeps
      // every valid pair (the 1e-6 slack only ever RETAINS borderline
      // candidates — exact verify scores them — never drops one).
      val cand = pref.select(col(idCol).as("da"), col("sh"),
          col("sz").as("sza"), col("__pos").as("pa"))
        .join(pref.select(col(idCol).as("db"), col("sh"),
          col("sz").as("szb"), col("__pos").as("pb")), Seq("sh"))
        .filter(col("da") < col("db") &&
          col("szb").cast("double") >= lit(minJaccard) * col("sza").cast("double") &&
          col("sza").cast("double") >= lit(minJaccard) * col("szb").cast("double") &&
          (lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb")))
            .cast("double") * lit(1.0 + minJaccard) >=
            lit(minJaccard) * (col("sza") + col("szb")).cast("double") - lit(1e-6))
        .select(col("da"), col("db"), col("sza"), col("szb")).distinct()
      // verify on per-doc shingle ARRAYS (bounded by doc length) instead of
      // re-exploding the inverted index per candidate: the explode-verify is
      // |cand|·avg(sz) join rows (21M at sf0.1 for 310k candidates), the
      // array form is two |cand|-row joins + a codegen'd array_intersect
      val docsets = sh.groupBy(col(idCol)).agg(collect_list(col("sh")).as("set"))
      val inter = cand
        .join(docsets.select(col(idCol).as("da"), col("set").as("seta")), "da")
        .join(docsets.select(col(idCol).as("db"), col("set").as("setb")), "db")
        .withColumn("c", size(array_intersect(col("seta"), col("setb")))
          .cast("long"))
        .select(col("da"), col("db"), col("sza"), col("szb"), col("c"))
      inter
        .withColumn("jac",
          round(col("c") / (col("sza") + col("szb") - col("c")), 6))
        .filter(col("jac") >= minJaccard)
        .select(col("da"), col("db"), col("jac"))
        .localCheckpoint()
    } finally sh.unpersist()
  }

  /** Shared inverted-index candidate machinery under [[jaccardPairs]] /
    * [[containmentPairs]]: capped shingles → self-join → per-pair overlap
    * counts joined to both documents' shingle-set sizes. `finish` turns the
    * (da, db, c, sza, szb) relation into the operator's scored output; its
    * result is eagerly materialized (small: only pairs over the threshold)
    * so the big exploded shingle cache can be released before returning.
    */
  private def overlapPairs(df: DataFrame, idCol: String, textCol: String,
                           n: Int, maxDf: Int)
                          (finish: DataFrame => DataFrame): DataFrame = {
    // the shingle relation feeds three consumers (sizes + both join sides):
    // cache it instead of re-exploding the corpus three times. The df cap is
    // a count window PARTITIONED BY the shingle: its exchange is exactly the
    // hash distribution the inverted-index self-join needs next, so the cap
    // rides the shuffle the join pays anyway (measured 3× faster than a
    // groupBy + broadcast-anti-join variant, which explodes the corpus twice).
    val sh = shingles(df, idCol, textCol, n)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .filter(col("__df") <= maxDf).drop("__df")
      .cache()
    try {
      val sizes = shingleSizes(sh, idCol)
      val a = sh.select(col(idCol).as("da"), col("sh"))
      val b = sh.select(col(idCol).as("db"), col("sh"))
      val common = a.join(b, Seq("sh")).filter(col("da") < col("db"))
        .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
      finish(common
        .join(sizes.select(col(idCol).as("da"), col("sz").as("sza")), "da")
        .join(sizes.select(col(idCol).as("db"), col("sz").as("szb")), "db"))
        .localCheckpoint()
    } finally sh.unpersist()
  }

  /** Resolve near-dup PAIRS into CLUSTERS — the step between pair detection
    * and canonical-document selection: connected components over the pair
    * graph by min-label propagation with POINTER DOUBLING (each iteration
    * propagates labels across edges, then follows the label chain one more
    * hop — label(label(v)) — so the propagation distance doubles per
    * iteration and convergence is O(log diameter), not O(diameter); a
    * 1000-long dup chain resolves in ~10 iterations instead of 1000).
    * Lineage is cut per iteration with localCheckpoint. The GraphFrames-free
    * Spark connected-components pattern; at 100 TB every iteration is a
    * bounded number of shuffles on the id, nothing is collected. Throws on
    * non-convergence at `maxIter` — a partially-merged labeling is silently
    * wrong, never return it.
    * Returns (doc_id, cluster_id = min id in the component).
    */
  def resolveClusters(pairs: DataFrame, aCol: String = "da",
                      bCol: String = "db", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .union(pairs.select(col(bCol).cast("long").as("a"), col(aCol).cast("long").as("b")))
      .localCheckpoint() // pairs' subtree (often a whole LSH pipeline) runs once
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // own label (flagged) and neighbor labels through ONE aggregation:
      // min(cand) is the propagated label, max(own) the previous one — the
      // convergence check reads the already-materialized checkpoint instead
      // of paying a second join per iteration
      val own = labels.select(col("doc_id"), col("cluster_id").as("cand"), lit(true).as("isOwn"))
      val neighborLabels = edges
        .join(labels.select(col("doc_id").as("b"), col("cluster_id").as("cand")), "b")
        .select(col("a").as("doc_id"), col("cand"), lit(false).as("isOwn"))
      val prop = own.union(neighborLabels)
        .groupBy(col("doc_id"))
        .agg(min(col("cand")).as("cluster_id"),
             max(when(col("isOwn"), col("cand"))).as("__old"))
      // pointer-doubling hop: every label is itself a doc id, so follow it
      // one step through the freshly-propagated labeling (left join: the
      // referenced doc is always present, coalesce guards the general case)
      val byId = prop.select(col("doc_id").as("__cid"), col("cluster_id").as("__cl2"))
      val step = prop
        .join(byId, col("cluster_id") === col("__cid"), "left")
        .select(col("doc_id"),
                coalesce(col("__cl2"), col("cluster_id")).as("cluster_id"),
                col("__old"))
        .localCheckpoint()
      converged = step.filter(col("cluster_id") =!= col("__old")).isEmpty
      labels = step.select(col("doc_id"), col("cluster_id"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters did not converge in $maxIter iterations — " +
        "the pair graph has a component deeper than 2^maxIter; raise maxIter")
    labels
  }

  /** Rows a broadcast side may have before we fall back to a shuffled join:
    * id-only relations at ~16 bytes/row keep this well under the driver /
    * executor broadcast memory limits.
    */
  val BroadcastRowLimit: Long = 5000000L

  /** Broadcast `small` into the join only when it actually is small. The
    * count is cheap by construction here — every caller passes an already
    * materialized (checkpointed) or trivially-derived relation — and on a
    * high-duplication corpus at 100 TB the "small" side is NOT small, where
    * an unconditional broadcast would blow the driver; the fallback is a
    * plain shuffled join.
    */
  private[llm] def maybeBroadcast(small: DataFrame,
                                  limit: Long = BroadcastRowLimit): DataFrame =
    if (small.limit((limit + 1).toInt).count() <= limit) broadcast(small)
    else small

  /** Final dedup step: keep one document per cluster (the min-id canonical)
    * and every document that is in no cluster — pairs → clusters →
    * deduplicated corpus. An anti-join against the non-canonical member set
    * (broadcast when small, shuffled otherwise); the corpus itself is never
    * shuffled in the broadcast case.
    *
    * Input contract: `clusters` should be MATERIALIZED (checkpointed or
    * otherwise cheap to re-evaluate) — [[maybeBroadcast]]'s size probe
    * executes the drop set's subtree once beyond the join itself, so an
    * expensive unmaterialized cluster-resolution pipeline would run twice.
    * Every in-repo producer ([[resolveClusters]]) already checkpoints.
    */
  def canonicalize(df: DataFrame, clusters: DataFrame, idCol: String): DataFrame = {
    val drop = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(maybeBroadcast(drop), Seq(idCol), "left_anti")
  }

  /** MinHash permutation parameters, fixed and engine-mirrorable:
    * a_i = (654435747·(i+1)) mod P, b_i = (654602297·(i+1)) mod P
    * (Knuth multiplicative constants reduced mod P).
    */
  private def aConst(i: Int): Long = (654435747L * (i + 1)) % P
  private def bConst(i: Int): Long = (654602297L * (i + 1)) % P

  /** MinHash signature, wide form: all k permutation minima in ONE
    * aggregation pass — k `min` columns over the shingle hash, no k×
    * row explosion and a single shuffle on the doc id. (A cross join with a
    * k-row parameter table computes the same minima with k× the shuffle
    * volume; measured 2.5× slower at sf0.1.)
    */
  def minhashSignature(sh: DataFrame, idCol: String, k: Int,
                       hash: Column => Column = TextAnalysis.md5Long): DataFrame = {
    val hm = sh.withColumn("hm", hash(col("sh")) % P)
    val minCols = (0 until k).map(i =>
      min((lit(aConst(i)) * col("hm") + lit(bConst(i))) % P).as(s"mh$i"))
    hm.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
  }

  // NOTE: a "pure projection" signature (array_min over an in-row hash array,
  // one column per permutation) was tried and is a trap: Catalyst does not
  // CSE the shared hash-array subexpression across the k output columns, so
  // every permutation re-hashes every shingle — measured 16x slower. The
  // exploded aggregation above evaluates md5 exactly once per shingle.

  /** LSH banding over the wide signature: concat r consecutive minima per
    * band, unpivot to (id, band, sig) with a zero-shuffle `stack`.
    */
  def lshBands(sig: DataFrame, idCol: String, k: Int, r: Int): DataFrame = {
    val nb = k / r
    val bandCols = (0 until nb).map(b =>
      concat_ws("-", (0 until r).map(j => col(s"mh${b * r + j}").cast("string")): _*)
        .as(s"sig$b"))
    sig.select(col(idCol) +: bandCols: _*)
      .select(col(idCol),
        expr(s"stack($nb, ${(0 until nb).map(b => s"$b, sig$b").mkString(", ")}) as (band, sig)"))
  }

  /** Drop (band, sig) buckets holding more than `maxBucket` members — the
    * [[graft.llm.Multimodal.nearDupByHash64]] flood guard applied to the
    * MinHash band relation. DEGENERATE signatures are common, not
    * pathological: boilerplate shingle sets (a templated page, a repeated
    * license header, > maxBucket exact copies of one document) collide on
    * every band, and the candidate join over such a bucket goes QUADRATIC
    * in its population. Over-populated buckets are dropped from the
    * candidate stage instead; the recall consequence is that members of a
    * flooded bucket report no pairs here — route mass-duplicated content
    * through exact dedup (the content-hash groupBy), where it belongs.
    * The count window is PARTITIONED BY (band, sig): its exchange is
    * exactly the distribution the bucket join needs next, so the cap
    * rides the shuffle the join pays anyway.
    */
  private[llm] def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    bands.withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("sig"))))
      .filter(col("__n") <= maxBucket).drop("__n")
  }

  /** Exact-Jaccard verification of LSH candidate pairs — the one shared
    * definition under [[minhashDedup]] and [[crossCorpusDedup]]: semi-join
    * each side's shingle relation down to its candidate documents BEFORE
    * the (id, sh) shuffle (so the verify join carries |candidate docs| ×
    * shingles, not the whole corpus; the id sets are small by LSH
    * construction → broadcast, with the shuffled-semi-join fallback for
    * high-duplication corpora), count common shingles per pair, join both
    * sizes, keep pairs at or above `minJaccard`.
    */
  private def jaccardVerify(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                            idCol: String, minJaccard: Double): DataFrame = {
    val a = shA.join(maybeBroadcast(cand.select(col("da").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("da"), col("sh"))
    val b = shB.join(maybeBroadcast(cand.select(col("db").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("db"), col("sh"))
    cand.join(a, "da").join(b, Seq("db", "sh"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
      .join(shingleSizes(shA, idCol).select(col(idCol).as("da"), col("sz").as("sza")), "da")
      .join(shingleSizes(shB, idCol).select(col(idCol).as("db"), col("sz").as("szb")), "db")
      .withColumn("jac", round(col("c") / (col("sza") + col("szb") - col("c")), 6))
      .filter(col("jac") >= minJaccard)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → signature → band buckets →
    * candidate pairs (bucket self-join, NOT all-pairs) → exact Jaccard verify.
    * Buckets past `maxBucket` members are dropped by [[capBuckets]] — the
    * flood guard against boilerplate-identical signatures turning the
    * self-join quadratic.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16, r: Int = 4,
                   minJaccard: Double = 0.5,
                   hash: Column => Column = TextAnalysis.md5Long,
                   maxBucket: Int = 1000): DataFrame = {
    // four consumers of the shingle relation (signature, sizes, verify a/b)
    val sh = shingles(df, idCol, textCol, n).cache()
    try {
      val bands = capBuckets(
        lshBands(minhashSignature(sh, idCol, k, hash), idCol, k, r), maxBucket)
      val ba = bands.select(col(idCol).as("da"), col("band"), col("sig"))
      val bb = bands.select(col(idCol).as("db"), col("band"), col("sig"))
      // eager: the candidate set is tiny but its subtree is the whole
      // signature+banding pipeline — without materialization it would be
      // re-evaluated by every consumer below (measured +50 %)
      val cand = ba.join(bb, Seq("band", "sig")).filter(col("da") < col("db"))
        .select("da", "db").distinct().localCheckpoint()
      jaccardVerify(cand, sh, sh, idCol, minJaccard)
        .select(col("da"), col("db"), col("jac"))
        .localCheckpoint() // eager: release the shingle cache on return
    } finally sh.unpersist()
  }

  /** Cross-corpus (incremental-snapshot) near-dedup: flag each NEW document
    * that near-duplicates the EXISTING reference corpus — the dedup shape
    * of a refreshed crawl, where the new slice must be checked against
    * everything already accepted without re-deduplicating the old corpus
    * against itself. Same MinHash+LSH mechanics as [[minhashDedup]], but
    * candidates come from a new-bands × ref-bands join (never new×new or
    * ref×ref), so the verify cost scales with the NEW slice's collision
    * count, not the full corpus pair space. Returns every new id with
    * `keep` (no verified match), `dup_of` (smallest matching ref id) and
    * `best_jac` (highest verified Jaccard — possibly from a different
    * matching pair than dup_of; both aggregates are deterministic).
    */
  def crossCorpusDedup(newDf: DataFrame, refDf: DataFrame, idCol: String,
                       textCol: String, n: Int = 3, k: Int = 16, r: Int = 4,
                       minJaccard: Double = 0.5,
                       hash: Column => Column = TextAnalysis.md5Long,
                       maxBucket: Int = 1000): DataFrame = {
    val shNew = shingles(newDf, idCol, textCol, n).cache()
    val shRef = shingles(refDf, idCol, textCol, n).cache()
    try {
      // each side capped independently ([[capBuckets]]): the new×ref join
      // over a bucket carries |new bucket|·|ref bucket| rows, so a flood
      // on EITHER side is enough to go quadratic
      val bNew = capBuckets(
          lshBands(minhashSignature(shNew, idCol, k, hash), idCol, k, r), maxBucket)
        .select(col(idCol).as("da"), col("band"), col("sig"))
      val bRef = capBuckets(
          lshBands(minhashSignature(shRef, idCol, k, hash), idCol, k, r), maxBucket)
        .select(col(idCol).as("db"), col("band"), col("sig"))
      val cand = bNew.join(bRef, Seq("band", "sig"))
        .select("da", "db").distinct().localCheckpoint()
      val perNew = jaccardVerify(cand, shNew, shRef, idCol, minJaccard)
        .groupBy(col("da"))
        .agg(min(col("db")).as("dup_of"), max(col("jac")).as("best_jac"))
        .localCheckpoint() // eager: release both shingle caches on return
      newDf.select(col(idCol))
        .join(perNew.withColumnRenamed("da", idCol), Seq(idCol), "left")
        .withColumn("keep", col("dup_of").isNull)
    } finally { shNew.unpersist(); shRef.unpersist() }
  }

  /** 16-bit SimHash over the token multiset: per bit, sum ±1 across token
    * hashes; bit set where the sum is positive. No explosion beyond the token
    * list — 16 conditional sums in one aggregation.
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String,
                hash: Column => Column = TextAnalysis.md5Long): DataFrame = {
    val tok = graft.Core.fanOut(df).select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", hash(col("tok")) % 65536)
    val bitSums = (0 until 16).map { bit =>
      sum(when(shiftright(col("h"), bit) % 2 === 1, 1).otherwise(-1)).as(s"b$bit")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 16).map { bit =>
      when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col(idCol), value.as("simhash"))
  }

  /** Pseudo-random hyperplane component (j-th hyperplane, i-th dimension):
    * integer LCG reduced mod P then centered — exact in both engines, so the
    * LSH below is oracle-mirrorable in plain SQL.
    */
  def hyperplaneComp(j: Int, i: Int, dim: Int): Double =
    ((654435747L * (j.toLong * dim + i + 1)) % 1000000007L) - 500000003.0

  /** Random-hyperplane (SimHash-for-vectors) LSH near-dup over an embedding
    * column: `nBits` sign bits from fixed pseudo-random hyperplanes, banded
    * into nBits/r buckets, candidate pairs from the bucket self-join, exact
    * cosine verify on the candidates only. This is the corpus-scale
    * replacement for label blocking ([[embeddingNearDup]]): candidate volume
    * is bounded by band collisions (≈ 2^-r per band for unrelated vectors),
    * never by a hot block's O(block²). The bands travel WITHOUT the vectors
    * (ids only); embeddings are joined back just for the verify step.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nBits: Int = 32, r: Int = 8,
                          minCos: Double = 0.8): DataFrame = {
    require(nBits % r == 0, "nBits must be a multiple of the band width r")
    // nBits × dim multiply-adds per row: the signature projection is the
    // costliest map stage in the file — floor its parallelism
    val spread = graft.Core.fanOut(df)
    val nb = nBits / r
    def bit(j: Int): Column = {
      // fixed left-to-right double sum — mirrored exactly by the oracle SQL's
      // list_sum. Native ArrayDot loop instead of a 64-term unrolled chain:
      // 32 bits × 64 dims as explicit expressions blew codegen past 7 MB
      // task binaries (measured 11 s at sf0.1); the compiled element loop
      // is compact AND codegen'd (the earlier zip_with fold form evaluated
      // its lambdas interpreted), and equally exact — same order, and IEEE
      // multiplication is commutative bit-for-bit.
      val comps = lit((0 until dim).map(i => hyperplaneComp(j, i, dim)).toArray)
      val dot = graft.plans.ArrayDot.arrayDot(comps, col(vecCol))
      when(dot > 0, lit("1")).otherwise(lit("0"))
    }
    val bandCols = (0 until nb).map(bd =>
      concat((bd * r until (bd + 1) * r).map(bit): _*).as(s"sig$bd"))
    val sigs = spread.select(col(idCol) +: bandCols: _*)
    val bands = sigs.select(col(idCol),
      expr(s"stack($nb, ${(0 until nb).map(b => s"$b, sig$b").mkString(", ")}) as (band, sig)"))
    val ba = bands.select(col(idCol).as("va"), col("band"), col("sig"))
    val bb = bands.select(col(idCol).as("vb"), col("band"), col("sig"))
    val cand = ba.join(bb, Seq("band", "sig")).filter(col("va") < col("vb"))
      .select("va", "vb").distinct()
    val ea = spread.select(col(idCol).as("va"), col(vecCol).as("ea"))
    val eb = spread.select(col(idCol).as("vb"), col(vecCol).as("eb"))
    cand.join(ea, "va").join(eb, "vb")
      .withColumn("cos", round(Similarity.cosine("ea", "eb", dim), 6))
      .filter(col("cos") >= minCos)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, Abbas et al. 2023,
    * arXiv:2303.09540): within each coarse-quantizer cell, drop every
    * vector that has a ≥ minCos neighbour with a smaller id — one
    * representative per within-cell near-dup set, this file's keep-smallest
    * convention. The caller supplies the cell assignment (fixed seeds via
    * [[Similarity.assignCells]] for a mirrorable pipeline, or KMeans for
    * production), so the pair join is per-cell O(|cell|²): size nlist so
    * cells stay ~10³ vectors at the target corpus. Cross-cell near-dups are
    * deliberately never compared — the published method's recall tradeoff,
    * not a bug. Returns the surviving (id, cell) rows.
    */
  def semanticDedup(cells: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, dim: Int, minCos: Double): DataFrame = {
    val a = cells.select(col(cellCol), col(idCol).as("va"), col(vecCol).as("ea"))
    val b = cells.select(col(cellCol), col(idCol).as("vb"), col(vecCol).as("eb"))
    val dropped = a.join(b, Seq(cellCol)).filter(col("va") < col("vb"))
      .withColumn("cos", round(Similarity.cosine("ea", "eb", dim), 6))
      .filter(col("cos") >= minCos)
      .select(col("vb").as(idCol)).distinct()
    cells.select(col(idCol), col(cellCol))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus-duplicated span REMOVAL — the cleanup counterpart of
    * [[windowDupStats]] (which only measures): the C4/"deduplicating
    * training data" curation step that deletes spans repeated verbatim
    * across documents and rebuilds the cleaned corpus. Each document's
    * token stream is segmented into consecutive NON-overlapping n-token
    * segments (last segment may be shorter); a segment whose exact text
    * occurs in more than `maxDocs` distinct documents is boilerplate and is
    * dropped; the survivors are re-joined in original order as the cleaned
    * text.
    *
    * Scale shape: one explode (map-side segmentation), one keyed agg for
    * the per-segment document frequency (map-side combinable — the
    * segment-text exchange carries distinct (seg, doc) pairs at most), one
    * shuffle join back on the segment key, and one per-doc rollup whose
    * ordered rebuild runs on sort_array over (pos, seg) structs — bounded
    * by the document's own segment count, never a window over the corpus.
    * Linear in corpus bytes; no driver participation.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, maxDocs: Int = 1): DataFrame = {
    require(n > 0, s"removeDupSpans needs a positive segment size; got $n")
    // staged token split — the shingles() lambda rule
    val toks = col("__toks")
    // non-overlapping segment starts 1, n+1, 2n+1, … (1-based slice);
    // sequence() needs the empty-doc guard (see shingles)
    val starts = when(size(toks) >= 1, sequence(lit(1), size(toks), lit(n)))
      .otherwise(array().cast("array<int>"))
    val seg = graft.Core.fanOut(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(transform(starts, st => concat_ws(" ", slice(toks, st, lit(n))))))
      .select(col(idCol), col("pos"), col("col").as("seg"))
    val freq = seg.groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("__docs"))
    val kept = seg.join(freq, Seq("seg"))
      .withColumn("__dup", col("__docs") > maxDocs)
    val per = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_segments"),
      sum(when(col("__dup"), 1L).otherwise(0L)).as("n_removed"),
      concat_ws(" ", transform(
        sort_array(collect_list(when(!col("__dup"),
          struct(col("pos"), col("seg"))))),
        s => s.getField("seg"))).as("clean_text"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_segments", "n_removed"))
      .na.fill("", Seq("clean_text"))
  }

  /** Vocabulary typo pairs — SymSpell-style deletion-neighborhood
    * blocking: two words within Levenshtein distance 1 (substitution,
    * insertion or deletion) ALWAYS share a length-1-deletion variant (the
    * word itself counts as its 0-deletion variant), so candidates come
    * from an inverted index on the variants — |vocab|·(len+1) index rows,
    * never an all-pairs vocabulary join — and the exact `levenshtein`
    * verify runs on candidates only. The spelling-variant dedup primitive
    * for token normalization maps.
    */
  def typoPairs(df: DataFrame, textCol: String,
                maxWordLen: Int = 24): DataFrame = {
    val vocab = graft.Core.fanOut(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val dels = transform(sequence(lit(1), length(col("word"))), i =>
      concat(col("word").substr(lit(1), i - lit(1)),
        col("word").substr(i + lit(1), length(col("word")) - i)))
    val variants = vocab.select(col("word"), col("freq"),
      explode(array_distinct(concat(array(col("word")), dels))).as("v"))
    val a = variants.select(col("v"), col("word").as("wa"), col("freq").as("freq_a"))
    val b = variants.select(col("v"), col("word").as("wb"), col("freq").as("freq_b"))
    a.join(b, Seq("v")).filter(col("wa") < col("wb"))
      .select(col("wa"), col("wb"), col("freq_a"), col("freq_b")).distinct()
      .withColumn("dist", levenshtein(col("wa"), col("wb")).cast("int"))
      .filter(col("dist") <= 1)
      .select(col("wa"), col("wb"), col("dist"), col("freq_a"), col("freq_b"))
  }

  /** Embedding cosine near-dup: same-label blocking (the coarse partitioner)
    * then an in-block pair join with an exact cosine. The explicit per-index
    * expansion keeps the whole computation inside whole-stage codegen.
    * Small/medium corpora only — at scale a hot label makes the in-block
    * pair join O(block²); use [[embeddingNearDupLsh]] there.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, dim: Int,
                       minCos: Double): DataFrame = {
    // a small corpus broadcast-joins (no exchange), so the per-pair cosine
    // stage inherits the scan's partitioning — floor it explicitly
    val spread = graft.Core.fanOut(df)
    val a = spread.select(col(blockCol), col(idCol).as("va"), col(vecCol).as("ea"))
    val b = spread.select(col(blockCol), col(idCol).as("vb"), col(vecCol).as("eb"))
    a.join(b, Seq(blockCol)).filter(col("va") < col("vb"))
      .withColumn("cos", round(Similarity.cosine("ea", "eb", dim), 6))
      .filter(col("cos") >= minCos)
      .select(col("va"), col("vb"), col("cos"))
  }
}
