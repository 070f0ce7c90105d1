package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsum}

/** Deterministic trainable text classifiers for the curation pipeline.
  *
  * The fastText-style supervised quality/language classifier of the
  * published pipelines (CCNet, RedPajama, FineWeb) reduced to its
  * RNG-free core: multinomial Naive Bayes with add-one smoothing. Count
  * aggregation IS the training — no sampling, no init, no iteration — so
  * unlike the RF/KMeans fits the whole train+score pipeline is exactly
  * mirrorable in SQL and sits under the cross-engine hash gate.
  */
object Classify {

  /** Multinomial NB train/score in one plan: fit class priors and add-one
    * token likelihoods on the `isTrain` slice, score every held-out
    * document, return its argmax class.
    *
    * Model: log10 P(c) = log10(docs_c / docs); log10 P(w|c) =
    * log10((cnt(w,c)+1)/(cnt_c+V)); score(d,c) = prior_c + Σ_w logP(w|c)
    * over d's tokens that exist in the train vocabulary (OOV tokens carry
    * no class signal and are dropped — the standard NB treatment).
    *
    * Determinism: each log term is the same IEEE double in both engines
    * (log10 over identical double ratios — the unigramSurprisal
    * precedent); per-(doc,class) accumulation is DECIMAL so partitioning
    * can't reorder it; the argmax compares the EXACT decimal scores with
    * class label as tie-break.
    *
    * Scale shape: model tables are keyed aggs over train tokens
    * (map-side combinable); scoring explodes held-out tokens once,
    * broadcasts the C-row class list, and shuffle-joins the sparse
    * (label, tok) counts — |tokens|·C exchange rows, the irreducible NB
    * scoring cost, linear in corpus bytes. The argmax is a struct-min
    * agg, never a window over the corpus.
    */
  def nbTrainScore(df: DataFrame, idCol: String, textCol: String,
                   labelCol: String, isTrain: Column): DataFrame = {
    val base = graft.Core.fanOut(df).select(col(idCol), col(labelCol).as("label"),
      isTrain.as("is_train"), TextAnalysis.tokens(col(textCol)).as("toks"))
    val train = base.filter(col("is_train"))
    val trainTok = train.select(col("label"), explode(col("toks")).as("tok"))

    val cls = train.groupBy(col("label")).agg(count(lit(1)).as("nd"))
    val tot = train.agg(count(lit(1)).as("td"))
    // clsTot AND vocab derive from cnt, not the token stream: the model
    // build tokenizes the train slice ONCE — the compact (label, tok)
    // relation feeds everything downstream (the text_perplexity
    // ReuseExchange lesson). NOT checkpointed: r13 measured the
    // materialization (label×vocab rows of strings) at +0.5 s vs the
    // re-derived consumers — the train slice is small and the recompute
    // cheap, the bigramPerplexity trade, not the chi2Terms one.
    val cnt = trainTok.groupBy(col("label"), col("tok")).agg(count(lit(1)).as("cnt"))
    val clsTot = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("ct"))
    val vocab = cnt.select(col("tok")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))

    val scoreDocs = base.filter(!col("is_train"))
      .select(col(idCol), col("label").as(labelCol))
    val scoreTok = base.filter(!col("is_train"))
      .select(col(idCol), explode(col("toks")).as("tok"))
      .join(vocab, Seq("tok")) // drop OOV (vocab is distinct — no fan-out)
    val pairs = scoreTok
      .crossJoin(broadcast(cls.select(col("label"))))
      .join(cnt, Seq("label", "tok"), "left").na.fill(0L, Seq("cnt"))
      .join(broadcast(clsTot), Seq("label"))
      .crossJoin(broadcast(vsize))
      .select(col(idCol), col("label"),
        log10((col("cnt") + 1).cast("double") /
              (col("ct") + col("v")).cast("double")).as("lp"))
    val perDocClass = pairs.groupBy(col(idCol), col("label"))
      .agg(sum(dec(col("lp"))).as("sdec"), count(lit(1)).as("n_used"))

    val prior = cls.crossJoin(broadcast(tot)).select(col("label"),
      log10(col("nd").cast("double") / col("td").cast("double")).as("pr"))
    // every held-out doc × every class: token-less (or all-OOV) docs score
    // on the prior alone instead of vanishing
    val scored = scoreDocs.crossJoin(broadcast(prior))
      .join(perDocClass, Seq(idCol, "label"), "left")
      .select(col(idCol), col(labelCol), col("label"),
        (coalesce(col("sdec"), dec(lit(0))) + dec(col("pr"))).as("score_dec"),
        coalesce(col("n_used"), lit(0L)).as("n_used"))
    scored.groupBy(col(idCol)).agg(
        min(struct((-col("score_dec")).as("ns"), col("label").as("lb"))).as("b"),
        first(col(labelCol)).as(labelCol),
        max(col("n_used")).as("n_used"))
      .select(col(idCol), col(labelCol), col("b.lb").as("pred"),
        round(-col("b.ns"), 6).cast("double").as("score"),
        col("n_used"),
        (col("b.lb") === col(labelCol)).as("correct"))
  }
  /** Gaussian Naive Bayes over ONE numeric feature: fit per-class
    * mean/variance (maximum-likelihood, population variance) and class
    * priors on the train slice from decimal-exact sufficient statistics,
    * score the held-out slice with
    *   score(x,c) = ln P(c) − ½·ln σ²_c − (x − μ_c)² / (2σ²_c),
    * and return the per-(actual, predicted) confusion counts. Zero-variance
    * classes contribute the prior alone (guarded, not a crash). The argmax
    * compares 6-dp-rounded decimal scores with the class label as
    * tie-break — the [[nbTrainScore]] determinism treatment.
    *
    * Scale shape: training is ONE map-combinable agg (|classes| rows of
    * sufficient statistics); scoring cross-joins the broadcast C-row model
    * and reduces with a struct-min argmax — never a window over the
    * corpus.
    */
  def gaussianNbConfusion(df: DataFrame, idCol: String, labelCol: String,
                          valCol: String, isTrain: Column): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.select(col(idCol), col(labelCol).as("label"), v.as("v"),
        isTrain.as("is_train"))
      .filter(col("v").isNotNull)
    val train = base.filter(col("is_train"))
    val model = train.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val tot = train.agg(count(lit(1)).as("td"))
    val params = model.crossJoin(broadcast(tot)).select(
      col("label").as("cls"),
      log(col("n").cast("double") / col("td").cast("double")).as("prior"),
      (col("sv") / col("n").cast("double")).as("mu"),
      ((col("svv") - col("sv") * col("sv") / col("n").cast("double")) /
        col("n").cast("double")).as("var"),
      // exact constant-class test: the double residue of svv - sv^2/n on
      // a constant non-dyadic class would pass `var > 0` and contribute
      // ln(noise) instead of the documented prior-only fallback
      (col("mx") > col("mn")).as("varies"))
    val test = base.filter(!col("is_train"))
    val scored = test.crossJoin(broadcast(params))
      .select(col(idCol), col("label"), col("cls"),
        round(col("prior") +
          when(col("varies"),
            lit(-0.5) * log(col("var")) -
              (col("v") - col("mu")) * (col("v") - col("mu")) /
                (lit(2.0) * col("var")))
          .otherwise(lit(0.0)), 6).as("score"))
    val pred = scored.groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("ns"), col("cls").as("lb"))).as("b"),
        first(col("label")).as("actual"))
    pred.groupBy(col("actual"), col("b.lb").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }
}
