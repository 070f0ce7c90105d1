package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsum, dsum6}

/** Principal-component extraction over an `Array[Float]` embedding column,
  * Spark-native: a one-pass distributed Gram matrix followed by a fixed
  * number of relational power-iteration rounds. The reference ecosystem
  * reaches for a local eigen-solver; at 100 TB the only distributed work
  * is the single Gram pass — everything after runs on a d×d (=4096-value)
  * relation.
  *
  * Determinism: every sum is accumulated in DECIMAL(27,10) (associative,
  * partitioning-independent), all scalar double math is fixed-order IEEE,
  * so the eigenvector is bit-identical across engines and partitionings —
  * the same discipline as the rest of the repo's exact-hash queries.
  */
object Pca {

  /** Gram matrix G_ij = Σ_rows x_i·x_j as an (i, j, g) relation, 1-based
    * indices, BOTH triangles (keeps the matvec join unconditional).
    *
    * Scale shape: each row explodes to d² (i, j, x_i·x_j) tuples that are
    * PIPELINED into a map-side hash aggregate of d² groups — the shuffle
    * carries only partitions×d² partial decimal sums, never the exploded
    * tuples. O(N·d²) multiply-adds is PCA's inherent cost; there is no
    * second pass over the data. Rows whose vector is null or of the wrong
    * length are excluded (the same guard every similarity operator applies).
    */
  def gram(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"gram needs dim > 0; got $dim")
    // fanOut: the d²-per-row explode + multiply + partial agg fuse into
    // the scan stage, and an embedding table small enough to arrive as
    // one split would run PCA's whole O(N·d²) kernel on one core (the
    // m21/per-token-md5 precedent; sums are fixed-point longs, so the
    // spread is arithmetic-invariant)
    val rows = graft.Core.fanOut(
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim))
    rows
      .select(posexplode(col(vecCol)).as(Seq("pi", "xi")), col(vecCol).as("__v"))
      .select((col("pi") + 1).as("i"), col("xi").cast("double").as("xi"),
        posexplode(col("__v")).as(Seq("pj", "xj")))
      .select(col("i"), (col("pj") + 1).as("j"),
        (col("xi") * col("xj").cast("double")).as("p"))
      .groupBy(col("i"), col("j"))
      // fixed-point long kernel: each product floor-quantizes to 1e-8 and
      // sums as an INTEGER — order-independent like a decimal sum but on
      // the primitive codegen fast path (measured ~4× faster over the
      // d²-exploded corpus), and int64→double is correctly rounded on
      // every engine, so there is no decimal→double double-rounding
      // regime at all. ANSI turns a long overflow into a loud failure;
      // |x·x|≤~16 quantized ≈ 1.6e9 leaves three orders of magnitude of
      // headroom at a 10⁹-row corpus (beyond that, pre-aggregate per
      // partition before the global fold).
      .agg((sum(floor(col("p") * lit(gramQ)).cast("long")).cast("double") /
        lit(gramQ)).as("g"))
  }

  /** Gram fixed-point quantum (1e-8): shared by [[gram]], the streaming
    * maintenance state, and every SQL mirror.
    */
  val gramQ = 1.0e8

  /** Top principal eigenvector of a [[gram]] relation by `iters` power-
    * iteration rounds from the uniform start v0 = 1/√dim: each round is
    * w = G·v (per-i decimal sum) then v = w/‖w‖ (decimal sum of squares).
    * Returns one row per component: (comp, loading, lambda) where the
    * loadings are sign-normalized (the largest-|loading| component —
    * smallest index on ties — is made positive, so the eigenvector's
    * arbitrary sign cannot flip between runs) and lambda is the Rayleigh
    * quotient vᵀGv at the final v, i.e. the variance captured.
    *
    * The per-round relations are 64-row; each round localCheckpoints its
    * v (iterative lineage-cutting — v is consumed twice per round, so lazy
    * lineage would double the plan per round). The Gram input is
    * checkpointed once: it is the only relation derived from the corpus.
    */
  def powerIteration(gramDf: DataFrame, dim: Int, iters: Int): DataFrame = {
    val (gn, s) = normalized(gramDf.localCheckpoint())
    present(gn, s, iterate(gn, dim, iters))
  }

  /** Scale the Gram by its max |entry| so every downstream magnitude is
    * CORPUS-SIZE-INDEPENDENT: normalized entries are ≤ 1, matvec values
    * ≤ dim, norm sums ≤ dim³ — all far inside the range where a scale-10
    * decimal→double cast is exact on every engine, at any data size. The
    * eigenvectors are unchanged; eigenvalues scale by 1/s and the
    * presentation stage multiplies s back in. Returns (ĝ, s-relation).
    */
  private def normalized(g: DataFrame): (DataFrame, DataFrame) = {
    // both relations stay LAZY: they are d²-row arithmetic over the
    // already-checkpointed Gram, cheaper to recompute per consumer than
    // to schedule two more materialization jobs
    val s = g.agg(max(abs(col("g"))).as("s"))
    val gn = g.crossJoin(broadcast(s))
      .select(col("i"), col("j"), (col("g") / col("s")).as("g"))
    (gn, s)
  }

  /** The raw iteration: `iters` rounds from the uniform start, returning
    * the final UNROUNDED (i, v) relation, checkpointed. Shared by the
    * single-component and deflation paths.
    */
  private def iterate(g: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 32, s"powerIteration needs 1..32 iters; got $iters")
    val spark = g.sparkSession
    val v0 = spark.range(1, dim + 1L)
      .select(col("id").cast("int").as("i"),
        (lit(1.0) / sqrt(lit(dim.toDouble))).as("v"))
    (1 to iters).foldLeft(v0.localCheckpoint()) { (v, _) =>
      // v is dim rows — broadcast it (post-checkpoint stats are unknown,
      // so without the hint the planner sort-merges a 64-row join).
      // Both decimal sums round to 6 dp before the cast (the dsum6 rule);
      // on the normalized Gram their magnitudes are ≤ dim³ regardless of
      // corpus size, so the rounded cast is exact everywhere.
      val w = g.join(broadcast(v.withColumnRenamed("i", "j")), Seq("j"))
        .groupBy(col("i"))
        .agg(dsum6(col("g") * col("v")).as("w"))
      val n2 = w.agg(dsum6(col("w") * col("w")).as("n2"))
      w.crossJoin(n2)
        .select(col("i"), (col("w") / sqrt(col("n2"))).as("v"))
        .localCheckpoint()
    }
  }

  /** The UNROUNDED normalized Rayleigh quotient vᵀĜv as a 1-row
    * (lambdaRaw) relation — the deflation coefficient. On the normalized
    * Gram its magnitude is ≤ dim, so the raw decimal→double cast is exact
    * on every engine at any corpus size.
    */
  private def rayleighRaw(gn: DataFrame, v: DataFrame): DataFrame =
    gn.join(broadcast(v.select(col("i"), col("v").as("vi"))), Seq("i"))
      .join(broadcast(v.select(col("i").as("j"), col("v").as("vj"))), Seq("j"))
      .agg(dsum(col("vi") * col("g") * col("vj")).as("lambdaRaw"))

  /** Sign-normalize and round a final eigenvector against its normalized
    * Gram: (comp, loading, lambda) — lambda is the TRUE-scale variance
    * (the normalized Rayleigh value times the scale factor s).
    */
  private def present(gn: DataFrame, s: DataFrame,
                      vFinal: DataFrame): DataFrame = {
    val lamHat = gn
      .join(broadcast(vFinal.select(col("i"), col("v").as("vi"))), Seq("i"))
      .join(broadcast(vFinal.select(col("i").as("j"), col("v").as("vj"))), Seq("j"))
      .agg(dsum6(col("vi") * col("g") * col("vj")).as("lamHat"))
    val sign = vFinal
      .orderBy(abs(col("v")).desc, col("i"))
      .limit(1)
      .select(when(col("v") < 0, lit(-1.0)).otherwise(lit(1.0)).as("sg"))
    vFinal.crossJoin(sign).crossJoin(lamHat).crossJoin(broadcast(s))
      .select(col("i").as("comp"),
        round(col("v") * col("sg"), 6).as("loading"),
        round(col("lamHat") * col("s"), 6).as("lambda"))
  }

  /** One-call convenience: Gram pass + power iteration. */
  def topComponent(df: DataFrame, vecCol: String, dim: Int,
                   iters: Int): DataFrame =
    powerIteration(gram(df, vecCol, dim), dim, iters)

  /** PCA-based anomaly detection — the apply side of the trained
    * component: project every vector onto the (rounded, sign-fixed)
    * loadings and rank by RECONSTRUCTION ERROR ‖x‖² − score² (the energy
    * the top component cannot explain; for a unit direction this is the
    * squared residual norm). Returns the top `k` anomalies
    * (rank, id, recon_err) — the projection score is consumed by the
    * error computation, not emitted.
    *
    * Both the projection and the vector norm accumulate through the
    * fixed-point long kernel over the per-element join with the
    * 64-row loadings relation — order-independent, so SQL mirrors need no
    * fold-order contract — and the ranking goes through the bounded TopK
    * aggregator (|k| exchange rows per partition), never a global window.
    */
  def projectAnomalies(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, components: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1024, s"projectAnomalies: bad k=$k")
    graft.Core.requireIntegral(df, idCol, "projectAnomalies")
    val q = 1.0e10
    // fanOut for the same reason as [[gram]]: dim-way explode + fixed-
    // point multiply fused onto a possibly single-split scan
    val expl = graft.Core.fanOut(
        df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim))
      .select(col(idCol).cast("long").as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("id"), (col("pos") + 1).as("comp"),
        col("x").cast("double").as("x"))
    val scored = expl
      .join(broadcast(components.select(col("comp"), col("loading"))), Seq("comp"))
      .groupBy(col("id"))
      .agg((sum(floor((col("x") * col("loading")) * lit(q)).cast("long"))
          .cast("double") / lit(q)).as("score"),
        (sum(floor((col("x") * col("x")) * lit(q)).cast("long"))
          .cast("double") / lit(q)).as("n2"))
      .select(col("id"), col("score"),
        (col("n2") - col("score") * col("score")).as("err"))
    val topk = udaf(new graft.functions.Aggregators.TopK(k))
    scored
      .agg(topk(col("err"), col("id")).as("hits"))
      .select(posexplode(col("hits")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("id"), col("col.score").as("recon_err"))
  }

  /** Top `nComponents` principal components by Hotelling DEFLATION: after
    * each converged component, G ← G − λ·v·vᵀ removes its variance and the
    * next power iteration converges to the next component — still only ONE
    * pass over the corpus (the Gram); every deflation step is d²-row
    * arithmetic. Returns (pc, comp, loading, lambda), each component
    * sign-normalized exactly as [[powerIteration]].
    *
    * The deflation coefficient is the UNROUNDED Rayleigh value (both
    * engines compute the identical double); the emitted lambda column is
    * the rounded presentation copy.
    */
  def topComponents(df: DataFrame, vecCol: String, dim: Int,
                    nComponents: Int, iters: Int): DataFrame =
    topComponentsFromGram(gram(df, vecCol, dim), dim, nComponents, iters)

  /** [[topComponents]] over a prebuilt [[gram]] relation — so one Gram
    * pass can serve several analyses (and the streaming-maintained state
    * plugs in directly).
    */
  def topComponentsFromGram(gramDf: DataFrame, dim: Int,
                            nComponents: Int, iters: Int): DataFrame = {
    require(nComponents >= 1 && nComponents <= 16,
      s"topComponents needs 1..16 components; got $nComponents")
    // normalize ONCE; deflation happens in normalized space (the scale
    // factor is shared, so every eigenvalue re-scales by the same s)
    var (gn, s) = normalized(gramDf.localCheckpoint())
    val parts = (1 to nComponents).map { pc =>
      val v = iterate(gn, dim, iters)
      val out = present(gn, s, v).select(lit(pc).as("pc"), col("comp"),
        col("loading"), col("lambda"))
      if (pc < nComponents) {
        gn = gn
          .join(broadcast(v.select(col("i"), col("v").as("vi"))), Seq("i"))
          .join(broadcast(v.select(col("i").as("j"), col("v").as("vj"))), Seq("j"))
          .crossJoin(rayleighRaw(gn, v))
          .select(col("i"), col("j"),
            (col("g") - col("lambdaRaw") * col("vi") * col("vj")).as("g"))
          .localCheckpoint()
      }
      out
    }
    parts.reduceLeft(_ unionByName _)
  }
}
