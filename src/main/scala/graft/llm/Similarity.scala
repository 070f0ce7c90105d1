package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsum}

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (`Array[Float]`). Brute-force cosine top-k as the exactness baseline; an
  * IVF-style coarse-quantized variant as the scale path (probe a subset of
  * partitions instead of the whole corpus).
  */
object Similarity {

  /** The bounded-TopK ranking path keys candidate/cell ids on Long, and the
    * IVF join casts `partCol` to long — a string id would cast to null and
    * silently return an EMPTY result. Enforce the documented integral
    * contract loudly instead (shared type-based check: [[graft.Core.requireIntegral]]).
    */
  private def requireIntegral(df: DataFrame, c: String, op: String): Unit =
    graft.Core.requireIntegral(df, c, op)

  /** Exact dot product with a fixed association order (left-to-right from a
    * 0.0 seed), so Spark and any SQL mirror produce bit-identical doubles.
    * Runs as the native [[graft.plans.ArrayDot]] codegen Expression — a
    * compiled element loop inside whole-stage codegen. It replaced two
    * earlier forms: an unrolled 64-term `+` chain (three cosines in one
    * join condition blew the generated method past Janino's 64 KB limit)
    * and an `aggregate(zip_with(...))` fold (compact, but higher-order
    * lambdas evaluate INTERPRETED per element — the hot kernel of every
    * similarity operator). Same order, same NULL semantics, same bits;
    * ArrayDotSpec asserts equivalence against the HOF form on random
    * vectors. `dim` is the contract the caller asserts for both arrays.
    */
  def dot(aCol: String, bCol: String, dim: Int): Column =
    graft.plans.ArrayDot.arrayDot(col(aCol), col(bCol))

  def norm2(aCol: String, dim: Int): Column =
    graft.plans.ArrayDot.arrayDot(col(aCol), col(aCol))

  /** Cosine with a zero-norm guard: ANSI mode (Spark 4's default) turns the
    * 0/0 of a degenerate all-zeros vector into a DIVIDE_BY_ZERO job failure,
    * not a NaN — so the undefined similarity is an explicit NULL instead.
    * Null embeddings propagate to NULL the same way; every consumer treats
    * "unscoreable" uniformly (excluded from rankings / pair candidates).
    * Runs as the fused single-pass [[graft.plans.ArrayCosine]] Expression
    * (dot + both norms in one compiled loop, vs three array traversals per
    * pair); bit-identical to the composed form — ArrayCosineSpec asserts it.
    */
  def cosine(aCol: String, bCol: String, dim: Int): Column =
    graft.plans.ArrayCosine.arrayCosine(col(aCol), col(bCol))

  /** The composed-expression form of [[cosine]], kept as the reference
    * semantics the fused expression is spec'd against.
    */
  private[graft] def cosineComposed(aCol: String, bCol: String, dim: Int): Column = {
    val denom = sqrt(norm2(aCol, dim)) * sqrt(norm2(bCol, dim))
    when(denom > 0.0, dot(aCol, bCol, dim) / denom)
  }

  /** Brute-force cosine top-k: queries × corpus pair join, rank per query by
    * (cosine desc, id) — deterministic under ties. The corpus side stays
    * partitioned; only the (small) query side is broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, dim: Int, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // the broadcast join is map-side: the |Q| cosines per corpus row run on
    // the scan's partitioning — floor it ([[graft.Core.fanOut]])
    val c = graft.Core.fanOut(corpus).select(col(idCol).as("vb"), col(vecCol).as("eb"))
    val cos = cosine("qv", "eb", dim)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vb"))
    broadcast(q).join(c, col("qid") =!= col("vb"))
      .withColumn("cos", round(cos, 6))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vb"), col("cos"))
  }

  /** Brute-force cosine top-k through the bounded [[graft.functions.Aggregators.TopK]]
    * aggregator — identical output to [[bruteForceTopK]], different physics:
    * the window variant shuffles every |Q|×|C| scored pair to rank it, this
    * one keeps k candidates per map partition so the exchange carries
    * |Q|×k rows per partition regardless of corpus size. The 100 TB shape.
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, dim: Int, k: Int): DataFrame = {
    requireIntegral(corpus, idCol, "bruteForceTopKAgg")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = graft.Core.fanOut(corpus).select(col(idCol).as("vb"), col(vecCol).as("eb"))
    val cos = cosine("qv", "eb", dim)
    val topk = udaf(new graft.functions.Aggregators.TopK(k))
    // unscoreable (NULL) cosines — null or zero-norm embeddings — are
    // dropped before the typed aggregator (its (Double, Long) encoder is
    // non-nullable); the window variant filters them identically, so the
    // two variants stay output-identical on degenerate corpora too.
    broadcast(q).join(c, col("qid") =!= col("vb"))
      .select(col("qid"), round(cos, 6).as("cos"), col("vb"))
      .filter(col("cos").isNotNull)
      .groupBy(col("qid"))
      .agg(topk(col("cos"), col("vb")).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("vb"), col("col.score").as("cos"))
  }

  /** IVF with a learned coarse quantizer: MLlib KMeans over the corpus
    * assigns every vector a cluster id, which then serves as the partition
    * column for [[ivfTopK]] — the production shape (labels are rarely
    * cluster-structured; k-means cells are).
    */
  def kmeansPartitions(corpus: DataFrame, idCol: String, vecCol: String,
                       nlist: Int, seed: Long = 42L): DataFrame =
    kmeansIndex(corpus, idCol, vecCol, nlist, seed)._1

  /** Same as [[kmeansPartitions]] but also returns the fitted coarse
    * quantizer, so the layout can be persisted ([[saveIndex]]) and future
    * vectors/queries assigned without refitting.
    */
  def kmeansIndex(corpus: DataFrame, idCol: String, vecCol: String,
                  nlist: Int, seed: Long = 42L)
      : (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val assembled = corpus.withColumn("__features", array_to_vector(col(vecCol)))
    // quantizer-grade settings (the FAISS-style IVF training recipe):
    // random init + bounded iterations. A coarse quantizer needs cells of
    // roughly balanced mass, not converged centroids — kmeans||'s extra
    // init passes and 20 default iterations are ~2x the jobs for no recall
    // gain (gated by the ivfTopK recall spec).
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setInitMode("random").setMaxIter(10)
      .setFeaturesCol("__features").setPredictionCol("__cluster")
      .fit(assembled)
    (model.transform(assembled)
      .withColumnRenamed("__cluster", "ivf_cell")
      .drop("__features"), model)
  }

  /** Deterministic coarse-quantizer assignment: each corpus vector gets the
    * cell id of its nearest centroid (cosine DESC, cell ASC tie-break) from
    * an explicit centroid table — the role `KMeansModel.transform` plays
    * after a fit, usable with ANY centroid source (a persisted model's
    * centers, a fixed seed set, a previous epoch's layout) and fully
    * engine-mirrorable since there is no RNG anywhere.
    *
    * Scale shape: ZERO shuffles. Centroids are small by definition (nlist
    * entries, like model coefficients) → collected once, size-guarded, and
    * baked into a single map-side projection: one fused [[graft.plans.ArrayCosine]]
    * per centroid, argmax via `array_max` over (cos, −cell) structs — the
    * same shape KMeansModel.transform executes, where the earlier TopK(1)
    * aggregation + join-back re-shuffled the whole corpus twice for an
    * assignment that never needed to leave the scan. Unscoreable vectors
    * (zero-norm/NULL embedding, or no scoreable centroid) are dropped —
    * "unassigned", never silently binned.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, cellCol: String, cvecCol: String,
                  dim: Int, outCol: String = "ivf_cell"): DataFrame = {
    requireIntegral(corpus, idCol, "assignCells")
    requireIntegral(centroids, cellCol, "assignCells")
    // degenerate centroids are dropped EXACTLY like the pre-collect path
    // scored them (a null anywhere made the cosine NULL → never won):
    // unguarded, a null cell id reads as cell 0 (Row.getLong on null), a
    // null vector NPEs the plan build, and a null ELEMENT unboxes to 0.0 —
    // a silently-corrupted centroid that could WIN the argmax
    val cents: Array[(Long, Array[Double])] = centroids
      .filter(col(cellCol).isNotNull && col(cvecCol).isNotNull &&
        !exists(col(cvecCol), _.isNull))
      .select(col(cellCol).cast("long"), col(cvecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // 1024 is where this plan shape is comfortably compiled: each centroid
    // is an inline fused-cosine + a dim-wide literal in ONE projection, and
    // far past that codegen degrades toward Janino limits / interpreted
    // fallback. Larger learned layouts should assign via
    // [[kmeansPartitions]]/model.transform (same map-side shape, compiled
    // model code instead of plan literals).
    require(cents.nonEmpty && cents.length <= 1024,
      s"assignCells inlines centroids into one projection — ${cents.length} " +
        "cells is past the compiled-plan comfort zone (<= 1024); assign via " +
        "a fitted quantizer model at that scale")
    // (cos, −cell) structs compare lexicographically: array_max picks the
    // highest cosine, then the LOWEST cell id on ties. A NULL cosine stays
    // INSIDE its struct (no when() wrapper — that would evaluate the 64-wide
    // fused loop twice, once for the predicate and once for the branch):
    // struct ordering ranks a null first field below every non-null one, so
    // an unscoreable centroid can only win when ALL centroids are
    // unscoreable — exactly the rows the cos-null filter then drops.
    val scored = array(cents.map { case (cell, cv) =>
      struct(graft.plans.ArrayCosine.arrayCosine(col(vecCol), lit(cv)).as("cos"),
        lit(-cell).as("negCell"))
    }: _*)
    // |C| fused cosines per row is exactly the per-row-dominant work
    // Core.fanOut exists for: the conditional round-robin exchange fires
    // only on under-partitioned (small) inputs; NO keyed shuffle exists in
    // this plan at any size (the spec asserts no hashpartitioning exchange)
    graft.Core.fanOut(corpus)
      .withColumn("__best", array_max(scored))
      .filter(col("__best.cos").isNotNull)
      .withColumn(outCol, -col("__best.negCell"))
      .drop("__best")
  }

  /** Int8 symmetric quantization of an embedding column — the storage /
    * transport compression every large vector corpus ships with (4× smaller
    * than float32, standard for IVF cell files). Per-vector scale =
    * max |x| / 127; codes by HALF-UP rounding written as floor(x/scale+0.5):
    * floor is bit-exact in every engine while native round() tie-breaking
    * is not, so the codes are engine-mirrorable. All-zero vectors keep
    * scale 0 and all-zero codes (no division). Pure column expressions —
    * no UDF, no shuffle; reconstruction error is bounded by scale/2 per
    * element (spec'd).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val absMax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = absMax / 127.0
    df.select(col(idCol), scale.as("scale"),
      transform(col(vecCol), x =>
        when(scale > 0.0, floor(x.cast("double") / scale + 0.5))
          .otherwise(lit(0L)).cast("int")).as("q"))
  }

  /** Product-quantization ANN (the PQ half of IVF-PQ): split each vector
    * into `m` subvectors, quantize every subvector to its nearest of the
    * `codewords` (a deterministic training-free codebook here — the
    * simsearch_ivf_fixed precedent; a learned k-means codebook slots in
    * unchanged), then rank candidates per query by the asymmetric distance
    * (ADC): dist(q, v) ≈ Σ_j ‖q_j − cb_j[code_j(v)]‖². The classic memory
    * math: a dim-float vector compresses to m codes.
    *
    * Scale shape: the codebook is collected ONCE (size-guarded ≤ 1024,
    * like assignCells) and inlined into two map-side projections — encode
    * (|corpus| rows, m·ks·sub fused multiply-adds each, NO shuffle) and
    * the per-query ADC lookup tables (m·ks distances per query, computed
    * once per query, broadcast with it). Per candidate the join then does
    * only m array lookups — the actual PQ speedup — and ranking goes
    * through the bounded TopK aggregator: |Q|·k exchange rows per
    * partition, never a window over the scored pairs.
    *
    * Determinism: subspace distances are left-associated double sums of
    * identical IEEE terms in both engines; codes tie-break on the lowest
    * codeword (struct-min); the ADC total accumulates in DECIMAL (the
    * per-subspace addition order can't leak), is rounded to 6 dp BEFORE
    * ranking, and ties rank by candidate id.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, m: Int, codewords: DataFrame,
             k: Int): DataFrame = {
    requireIntegral(corpus, idCol, "pqTopK")
    require(m > 0 && dim % m == 0,
      s"pqTopK needs m dividing dim; got dim=$dim m=$m")
    val sub = dim / m
    // degenerate codewords are dropped for the same reasons assignCells
    // documents (null cell/vector/element corruption); position in the
    // id-sorted survivor list is the code (1-based, matching the mirror's
    // ROW_NUMBER OVER (ORDER BY id))
    val cw: Array[Array[Double]] = codewords
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        !exists(col(vecCol), _.isNull))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(cw.nonEmpty && cw.length <= 1024,
      s"pqTopK inlines the codebook into one projection — ${cw.length} " +
        "codewords is past the compiled-plan comfort zone (<= 1024); use a " +
        "fitted quantizer model at that scale")
    val enc = graft.Core.fanOut(corpus).select(col(idCol).as("vb"),
      pqCodes(col(vecCol), cw, m, sub).as("codes"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), pqLut(col("qv"), cw, m, sub).as("lut"))
    pqRank(broadcast(q).join(enc, col("qid") =!= col("vb")), m, k)
  }

  /** IVF-PQ — the flagship FAISS index shape, composed from the engine's
    * existing pieces: coarse-quantize every vector to its nearest seed cell
    * ([[assignCells]], map-side), PQ-encode the RESIDUAL v − seed(cell)
    * (encoding residuals instead of raw vectors is what makes PQ accurate
    * inside a coarse cell), then at query time probe the `nprobe` best
    * cells, build per-(query, cell) ADC tables over the query's OWN
    * residual against that cell's seed, and rank only the probed cells'
    * candidates through the bounded TopK aggregator.
    *
    * Scale shape: assignment, residuals and encode are one map-side pass
    * (seeds broadcast, codebook inlined); probing touches |Q|·|cells| rows;
    * candidate scoring joins the (small, broadcast) probe relation to the
    * cell-keyed code table and does m array lookups per candidate; ranking
    * exchanges |Q|·k rows. Nothing re-shuffles the corpus after the encode.
    *
    * The codebook is training-free (`isCodeword` selects corpus rows whose
    * residuals become codewords — the simsearch_ivf_fixed precedent), so
    * the ENTIRE index build + search is exactly mirrorable; a learned
    * k-means codebook slots into the same plan.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, m: Int, seeds: DataFrame,
                cellCol: String, cvecCol: String, isCodeword: Column,
                k: Int, nprobe: Int): DataFrame = {
    requireIntegral(corpus, idCol, "ivfPqTopK")
    require(m > 0 && dim % m == 0,
      s"ivfPqTopK needs m dividing dim; got dim=$dim m=$m")
    require(nprobe > 0, s"ivfPqTopK needs a positive nprobe; got $nprobe")
    val sub = dim / m
    val asn = assignCells(corpus, idCol, vecCol, seeds, cellCol, cvecCol, dim)
    val sd = seeds.select(col(cellCol).as("__cell"),
      col(cvecCol).cast("array<double>").as("__cv"))
    val res = asn.join(broadcast(sd), col("ivf_cell") === col("__cell"))
      .select(col(idCol), col("ivf_cell").as("cell"),
        zip_with(col(vecCol), col("__cv"), (a, b) => a.cast("double") - b).as("r"))
    // the codeword collect runs the assignment+residual pipeline on ONLY
    // the isCodeword rows (isCodeword is a CORPUS-column predicate) — an
    // action on the full `res` here would execute the corpus-wide
    // per-row-dominant assignment twice, once for this collect and once
    // when `enc` runs inside the query job
    val cwAsn = assignCells(corpus.filter(isCodeword), idCol, vecCol,
      seeds, cellCol, cvecCol, dim)
    val cw: Array[Array[Double]] = cwAsn
      .join(broadcast(sd), col("ivf_cell") === col("__cell"))
      .select(col(idCol),
        zip_with(col(vecCol), col("__cv"), (a, b) => a.cast("double") - b).as("r"))
      .filter(col("r").isNotNull && !exists(col("r"), _.isNull))
      .select(col(idCol).cast("long"), col("r"))
      .collect()
      .map(row => row.getLong(0) -> row.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(cw.nonEmpty && cw.length <= 1024,
      s"ivfPqTopK inlines the codebook into one projection — ${cw.length} " +
        "codewords is past the compiled-plan comfort zone (<= 1024)")
    val enc = res.select(col(idCol).as("vb"), col("cell"),
      pqCodes(col("r"), cw, m, sub).as("codes"))
    // coarse probe: top-nprobe cells per query by cosine against the seeds
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val probeK = udaf(new graft.functions.Aggregators.TopK(nprobe))
    val probes = qv.crossJoin(broadcast(
        seeds.select(col(cellCol).as("pcell"), col(cvecCol).as("pcv"))))
      .withColumn("cos", cosine("qv", "pcv", dim))
      .filter(col("cos").isNotNull)
      .groupBy(col("qid"))
      .agg(probeK(col("cos"), col("pcell").cast("long")).as("h"))
      .select(col("qid"), explode(col("h")).as("hit"))
      .select(col("qid"), col("hit.id").as("cell"))
    // per-(query, probed cell) residual → ADC lookup tables
    val qres = probes.join(qv, Seq("qid"))
      .join(broadcast(sd), col("cell") === col("__cell"))
      .select(col("qid"), col("cell"),
        pqLut(zip_with(col("qv"), col("__cv"), (a, b) => a.cast("double") - b),
          cw, m, sub).as("lut"))
    pqRank(broadcast(qres).join(enc, Seq("cell"))
      .filter(col("qid") =!= col("vb")), m, k)
  }

  /** LEARNED PQ codebook: per-subspace Lloyd k-means, RNG-free. Init is
    * the `ks` lowest-id corpus vectors (the training-free codebook), then
    * `iters` rounds of (subspace-L2 assignment via the [[pqCodes]] fused
    * encode kernel — the EXACT kernel the search uses, so training and
    * serving can't disagree on the metric — and per-(subspace, codeword)
    * decimal-exact element-wise mean recompute). Codeword `c`'s slice `j`
    * is subspace `j`'s c-th learned centroid; a (j, c) cell that loses all
    * members keeps its previous slice (standard Lloyd empty-cell rule,
    * deterministic). Returns a (idCol, vecCol) relation of `ks` full-dim
    * codeword vectors that drops straight into [[pqTopK]] / [[ivfPqTopK]]'s
    * codewords seam — and because nothing anywhere is random, the whole
    * train + encode + search pipeline is SQL-mirrorable (the lloydAssign
    * precedent applied to PQ).
    *
    * Scale shape per round: one map-side encode pass over the corpus (the
    * codebook rides inlined, NO shuffle), one map-combinable mean
    * aggregation contracting to dim·ks rows, one ≤dim·ks-value driver
    * merge — model-coefficient scale, like every codebook collect here.
    */
  def pqLearnCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, ks: Int, iters: Int): DataFrame = {
    require(m > 0 && dim % m == 0,
      s"pqLearnCodebook needs m dividing dim; got dim=$dim m=$m")
    require(ks > 0 && ks <= 1024,
      s"pqLearnCodebook: ks must be in [1, 1024], got $ks")
    require(iters >= 0, s"pqLearnCodebook: iters must be >= 0, got $iters")
    val sub = dim / m
    var cw: Array[Array[Double]] = corpus
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        !exists(col(vecCol), _.isNull))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(ks).collect()
      .map(_.getSeq[Double](1).toArray)
    require(cw.length == ks,
      s"pqLearnCodebook: corpus has only ${cw.length} clean vectors, need $ks")
    for (_ <- 1 to iters) {
      val means = corpus
        .select(pqCodes(col(vecCol), cw, m, sub).as("codes"),
          col(vecCol).as("v"))
        .filter(col("codes").isNotNull)
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("pos"),
          element_at(col("codes"), (col("pos") / sub).cast("int") + 1).as("c"),
          col("x").cast("double").as("x"))
        .groupBy(col("c"), col("pos"))
        .agg((dsum(col("x")) / count(lit(1))).as("mean"))
        .collect()
      val next = cw.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Int]("c") - 1)(r.getAs[Int]("pos")) =
          r.getAs[Double]("mean")
      }
      cw = next
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    cw.toSeq.zipWithIndex.map { case (v, i) => (i.toLong + 1, v.toSeq) }
      .toDF(idCol, vecCol)
  }

  /** Left-associated squared L2 between subspace j of an array column and
    * codeword c of the collected codebook — the fused kernel under both the
    * PQ encode and the ADC lookup tables.
    */
  private def pqL2j(vc: Column, cw: Array[Array[Double]], c: Int, j: Int,
                    sub: Int): Column =
    (0 until sub).map { d =>
      val x = element_at(vc, j * sub + d + 1).cast("double") -
        lit(cw(c)(j * sub + d))
      x * x
    }.reduceLeft(_ + _)

  /** PQ codes (array of m 1-based codeword positions) for a vector column —
    * the compact [[graft.plans.PqEncode]] kernel (the composed struct-min
    * expression tree is bit-identical but megabytes of plan; see
    * PqKernels). NULL on any null element — the row drops at the
    * consumer's dist-null filter.
    */
  private def pqCodes(vc: Column, cw: Array[Array[Double]], m: Int,
                      sub: Int): Column =
    graft.plans.PqEncode.pqEncode(vc, cw, m)

  /** ADC lookup tables (m × ks subspace distances) for a query column. */
  private def pqLut(qv: Column, cw: Array[Array[Double]], m: Int,
                    sub: Int): Column =
    graft.plans.PqEncode.pqAdcLut(qv, cw, m)

  /** The composed-expression forms of [[pqCodes]]/[[pqLut]], kept as the
    * reference semantics the fused kernels are spec'd bit-identical to.
    */
  private[graft] def pqCodesComposed(vc: Column, cw: Array[Array[Double]],
                                     m: Int, sub: Int): Column =
    array((0 until m).map(j =>
      array_min(array(cw.indices.map(c =>
        struct(pqL2j(vc, cw, c, j, sub).as("d"), lit(c + 1).as("cw"))): _*))
        .getField("cw")): _*)

  private[graft] def pqLutComposed(qv: Column, cw: Array[Array[Double]],
                                   m: Int, sub: Int): Column =
    array((0 until m).map(j =>
      array(cw.indices.map(c => pqL2j(qv, cw, c, j, sub)): _*)): _*)

  /** Rank a (qid, lut, codes, vb) pair relation by the decimal-accumulated
    * rounded ADC distance through the bounded TopK aggregator.
    */
  private def pqRank(pairs: DataFrame, m: Int, k: Int): DataFrame = {
    val distDec = (0 until m).map(j =>
        dec(element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1))))
      .reduceLeft(_ + _)
    val topk = udaf(new graft.functions.Aggregators.TopK(k))
    pairs.withColumn("dist", round(distDec, 6).cast("double"))
      .filter(col("dist").isNotNull)
      .groupBy(col("qid"))
      .agg(topk(-col("dist"), col("vb")).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vb"), (-col("col.score")).as("dist"))
  }

  /** Recall@k of an approximate top-k result against the exact one, per
    * query: |approx ∩ exact| / |exact| over (qid, vb) pairs — the FAISS-bench
    * ANN-quality measurement as a first-class operator, so an IVF layout's
    * recall is a queryable number, not a one-off spec assertion. One semi
    * join + two aggregations, everything keyed on qid; the result is |Q|
    * rows however large the corpus. Queries absent from `approx` (e.g. all
    * their probed cells were empty) surface with n_hit 0, recall 0.0.
    * Both inputs must carry `qidCol` and `vbCol` (the shape every topK
    * variant in this file emits); checked loudly up front so a differently
    * keyed frame fails naming the operator contract, not an internal alias.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                qidCol: String = "qid", vbCol: String = "vb"): DataFrame = {
    for ((df, side) <- Seq(approx -> "approx", exact -> "exact"); c <- Seq(qidCol, vbCol))
      require(df.columns.contains(c),
        s"recallAtK needs ($qidCol, $vbCol) columns on both sides; " +
          s"$side has [${df.columns.mkString(", ")}]")
    val a = approx.select(col(qidCol).as("qid"), col(vbCol).as("vb"))
    val e = exact.select(col(qidCol).as("qid"), col(vbCol).as("vb"))
    val hit = e.join(a, Seq("qid", "vb"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Euclidean sibling of [[assignCells]] — KMeans layouts are L2, not
    * cosine, so index MAINTENANCE must assign with the fitted metric.
    * argmin ‖v−c‖² is ranked via the algebraic form 2·v·c − ‖c‖²
    * (argmax): per fixed v the ‖v‖² term is common and drops, the per-
    * centroid ‖c‖² is a driver-computed double literal, and the dot is
    * the fused [[graft.plans.ArrayDot]] — one compiled projection per
    * row, ZERO shuffles, exactly the assignCells plan shape. NULL dot
    * (null vector/element) → null score → row dropped, same contract.
    */
  def assignCellsL2(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cellCol: String, cvecCol: String,
                    dim: Int, outCol: String = "ivf_cell"): DataFrame = {
    requireIntegral(corpus, idCol, "assignCellsL2")
    requireIntegral(centroids, cellCol, "assignCellsL2")
    val cents: Array[(Long, Array[Double])] = centroids
      .filter(col(cellCol).isNotNull && col(cvecCol).isNotNull &&
        !exists(col(cvecCol), _.isNull))
      .select(col(cellCol).cast("long"), col(cvecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(cents.nonEmpty && cents.length <= 1024,
      s"assignCellsL2 inlines centroids into one projection — ${cents.length} " +
        "cells is past the compiled-plan comfort zone (<= 1024)")
    // validate the dim contract here (ArrayDot nulls only on a pairwise
    // length mismatch — a uniformly mis-sized centroid table would
    // otherwise silently truncate every dot product)
    require(cents.forall(_._2.length == dim),
      s"assignCellsL2: centroid width ${cents.map(_._2.length).distinct.mkString(",")} != dim=$dim")
    val scored = array(cents.map { case (cell, cv) =>
      val cNorm2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((graft.plans.ArrayDot.arrayDot(col(vecCol), lit(cv)) * 2.0 -
          lit(cNorm2)).as("s"),
        lit(-cell).as("negCell"))
    }: _*)
    graft.Core.fanOut(corpus)
      .withColumn("__best", array_max(scored))
      .filter(col("__best.s").isNotNull)
      .withColumn(outCol, -col("__best.negCell"))
      .drop("__best")
  }

  /** Incremental index maintenance: assign NEW vectors to an existing
    * persisted layout with the layout's own (Euclidean) metric and APPEND
    * them into the cell-partitioned files — no refit, no rewrite of
    * existing cells. The write lands only in the partitions the new
    * vectors hit; probe reads stay partition-pruned. Returns the
    * assignment so callers can account for what landed where.
    */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newVectors: DataFrame, idCol: String, vecCol: String,
                    dim: Int): DataFrame = {
    val model = org.apache.spark.ml.clustering.KMeansModel.load(s"$path/kmeans")
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray.toSeq) }.toSeq
      .toDF("cell", "cv")
    val asn = assignCellsL2(newVectors, idCol, vecCol, cents, "cell", "cv", dim)
    // schema guard: an append with extra/missing/retyped columns would land
    // silently and later reads of the index would drop or null columns
    // depending on which parquet footer gets sampled — align to the schema
    // saveIndex originally wrote (partition column included) before writing
    val existing = spark.read.parquet(s"$path/cells").schema
    // compare via .sql: nullability round-trips lossily through parquet
    // (array containsNull flips to true on read) and is not a layout hazard
    val exCols = existing.fields.map(f => f.name -> f.dataType.sql).toMap
    val asnCols = asn.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    require(asnCols.keySet == exCols.keySet,
      s"appendToIndex: column set ${asnCols.keySet.toSeq.sorted.mkString(",")} " +
        s"does not match the saved index ${exCols.keySet.toSeq.sorted.mkString(",")}")
    // ivf_cell is the PARTITION column: on disk it is a directory-name
    // string and reads back with an inferred (narrower) type, so its
    // in-frame type is not a layout property — presence is all that matters
    exCols.foreach { case (n, dt) =>
      require(n == "ivf_cell" || asnCols(n) == dt,
        s"appendToIndex: column $n has type ${asnCols(n)}, saved index has $dt")
    }
    val aligned = asn.select(existing.fieldNames.map(col): _*)
    aligned.write.mode("append").partitionBy("ivf_cell").parquet(s"$path/cells")
    aligned
  }

  /** Persist the assigned corpus partitioned by cell (directory-level
    * partition pruning is the probe path's IO win) plus the fitted
    * quantizer. Path-based parquet cannot carry bucket metadata
    * (`bucketBy` needs a table catalog), so the layout is partition-only.
    */
  def saveIndex(assigned: DataFrame,
                model: org.apache.spark.ml.clustering.KMeansModel,
                path: String): Unit = {
    assigned.write.mode("overwrite")
      .partitionBy("ivf_cell")
      .parquet(s"$path/cells")
    model.write.overwrite().save(s"$path/kmeans")
  }

  /** Load the persisted layout. The cell relation comes back
    * partition-pruned: filtering on `ivf_cell` prunes directories before
    * any IO (the probe path reads nprobe/nlist of the corpus).
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, org.apache.spark.ml.clustering.KMeansModel) =
    (spark.read.parquet(s"$path/cells"),
     org.apache.spark.ml.clustering.KMeansModel.load(s"$path/kmeans"))

  /** Serve-path ANN over a PERSISTED [[saveIndex]] layout: probe cells are
    * ranked with the saved quantizer's own centroids and metric (L2 — the
    * metric [[appendToIndex]] maintains the layout with), then candidates
    * inside the probed cells are ranked by cosine through the bounded TopK
    * aggregator — the [[ivfTopK]] scoring stage unchanged. Unlike
    * [[ivfTopK]] this never recomputes centroids from the corpus: the
    * model is the index, so a serve call's corpus-side IO is ONLY the
    * probed cell directories (the collected probe set is applied as a
    * partition filter — explicit, not left to dynamic pruning).
    *
    * The probe-set collect is |Q|·nprobe-bounded and require-guarded:
    * serving is a small-query-batch path by construction; a bulk
    * all-queries rerank belongs on [[ivfTopK]].
    *
    * `excludeIds` drops the given CANDIDATE ids from the index side —
    * the crash-retry guard for serve-and-grow loops: a batch replayed
    * after a partial append can exclude its OWN ids and retrieve exactly
    * what the first run did, instead of finding its batch-mates.
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, idCol: String, vecCol: String,
                 dim: Int, k: Int, nprobe: Int,
                 excludeIds: Option[DataFrame] = None): DataFrame = {
    requireIntegral(queries, idCol, "probeIndex")
    val model = org.apache.spark.ml.clustering.KMeansModel.load(s"$path/kmeans")
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    require(cents.forall(_._2.length == dim),
      s"probeIndex: saved centroid width ${cents.map(_._2.length).distinct.mkString(",")} != dim=$dim")
    // nearest-nprobe cells per query under the layout metric: maximize
    // 2·q·c − ‖c‖² (argmax ⇔ min L2, the assignCellsL2 identity) — one
    // codegen'd projection per query row, centroids inlined as literals
    val scored = array(cents.map { case (cell, cv) =>
      val cNorm2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((graft.plans.ArrayDot.arrayDot(col("qv"), lit(cv)) * 2.0 -
          lit(cNorm2)).as("score"), lit(cell).as("cell"))
    }: _*)
    // mis-sized/null query vectors are dropped UP FRONT so the probe
    // comparator below never sees a null score (null-vs-double compares
    // would leave the sort order undefined)
    val q = queries
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
    val probes = q
      .select(col("qid"), col("qv"), explode(
        slice(array_sort(scored, (a, b) =>
          when(a.getField("score") > b.getField("score"), -1)
            .when(a.getField("score") < b.getField("score"), 1)
            .otherwise(when(a.getField("cell") < b.getField("cell"), -1)
              .when(a.getField("cell") > b.getField("cell"), 1).otherwise(0))),
          1, nprobe)).as("h"))
      .filter(col("h.score").isNotNull)
      .select(col("qid"), col("qv"), col("h.cell").as("ivf_cell"))
      .localCheckpoint() // consumed twice: the cell collect + the join
    val cellIds = probes.select(col("ivf_cell")).distinct()
      .collect().map(_.getLong(0))
    require(cellIds.length <= 4096,
      s"probeIndex: ${cellIds.length} distinct probed cells exceed the 4096 " +
        "serve-path bound; use ivfTopK for bulk search")
    val cellsRaw = spark.read.parquet(s"$path/cells")
    requireIntegral(cellsRaw, idCol, "probeIndex") // TopK keys on Long
    val cellsKept = cellsRaw
      .filter(col("ivf_cell").isin(cellIds.map(Long.box): _*))
      .select(col("ivf_cell").cast("long").as("ivf_cell"),
        col(idCol).as("vb"), col(vecCol).as("eb"))
    val cells = excludeIds.fold(cellsKept)(ex =>
      cellsKept.join(
        ex.select(col(ex.columns.head).cast("long").as("vb")),
        Seq("vb"), "left_anti"))
    val cos = cosine("qv", "eb", dim)
    val topk = udaf(new graft.functions.Aggregators.TopK(k))
    broadcast(probes)
      .join(graft.Core.fanOut(cells), Seq("ivf_cell"))
      .filter(col("qid") =!= col("vb"))
      .select(col("qid"), round(cos, 6).as("cos"), col("vb"))
      .filter(col("cos").isNotNull)
      .groupBy(col("qid"))
      .agg(topk(col("cos"), col("vb")).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("vb"), col("col.score").as("cos"))
  }

  /** IVF-style ANN: coarse centroids from a partition column (label here; at
    * scale, k-means cluster ids), queries probe only the `nprobe` nearest
    * centroids, then brute-force within the probed partitions. Search cost
    * drops from O(N) to O(N·nprobe/nlist) per query.
    *
    * Both ranking stages run through the bounded
    * [[graft.functions.Aggregators.TopK]] aggregator, never a window: the
    * probe stage exchanges |Q|·nprobe rows and the search stage |Q|·k rows
    * per partition — a `row_number()` window here would shuffle EVERY probed
    * candidate pair to rank it, the one shape that dies at 100× corpus size.
    * `partCol` and `idCol` must be integral (cell/cluster/vector ids), which
    * is what every quantizer emits — the aggregator keys on Long; enforced
    * with a loud `require`. Unscoreable (NULL-cosine) candidates are dropped
    * in BOTH stages, so a query whose probed cells hold fewer than k
    * scoreable vectors returns fewer than k rows — returning unscoreable
    * filler would be the dishonest alternative.
    */
  /** Element-wise centroid of each partition (posexplode + groupBy).
    * Decimal accumulation so the mean is independent of partition order —
    * probe rankings and Lloyd iterations read these, and a FP-order flip
    * would make results run-dependent (and oracle-unmirrorable). Shared by
    * [[ivfTopK]]'s probe stage and [[lloydAssign]]'s recompute step.
    */
  def cellCentroids(corpus: DataFrame, partCol: String, vecCol: String): DataFrame = {
    val expl = corpus.select(col(partCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
    expl.groupBy(col(partCol), col("pos"))
      .agg((dsum(col("v").cast("double")) / count(lit(1))).as("cv"))
      .groupBy(col(partCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("s"))
      .select(col(partCol).cast("long").as(partCol),
              transform(col("s"), x => x.getField("cv")).as("cvec"))
  }

  /** Deterministic Lloyd k-means as a DATAFLOW — the RNG-free quantizer
    * fit: initial centers come from an explicit `seeds` relation (any
    * deterministic pick — here the first `nlist` corpus vectors), then
    * `iters` rounds of (cosine-argmax assignment via [[assignCells]],
    * decimal-exact element-wise center recompute via [[cellCentroids]]).
    * Because there is no RNG anywhere — unlike the MLlib fit in
    * [[kmeansPartitions]], whose seeded random init is engine-local — the
    * WHOLE train + assign pipeline is SQL-mirrorable and sits under the
    * exact oracle gate (the ml_logreg_irls training-as-a-query precedent).
    * Cells that lose all members in a round simply drop out of the next
    * centroid table (standard Lloyd behavior, mirrored exactly).
    *
    * Scale shape per round: one size-guarded centroid collect (≤1024 rows,
    * model-coefficient scale), one map-side argmax projection over the
    * corpus (zero keyed shuffles — the assignCells contract), one
    * map-combinable centroid aggregation. No checkpointing is needed:
    * each round's assignment plan is consumed exactly ONCE (the next
    * round's centroid collect inside assignCells), and the new assignment
    * rebuilds from `corpus` + driver-side centroid literals — the plan
    * never grows with `iters`, so a localCheckpoint would only pin a
    * corpus-sized block set per round for nothing.
    */
  def lloydAssign(corpus: DataFrame, idCol: String, vecCol: String,
                  seeds: DataFrame, cellCol: String, cvecCol: String,
                  dim: Int, iters: Int, outCol: String = "ivf_cell"): DataFrame = {
    require(iters >= 1, s"lloydAssign needs iters >= 1; got $iters")
    var asn = assignCells(corpus, idCol, vecCol, seeds, cellCol, cvecCol,
      dim, outCol)
    for (_ <- 2 to iters) {
      val cent = cellCentroids(asn, outCol, vecCol)
        .select(col(outCol).as("__cell"), col("cvec").as("__cv"))
      asn = assignCells(corpus, idCol, vecCol, cent, "__cell", "__cv",
        dim, outCol)
    }
    asn
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, partCol: String, dim: Int, k: Int,
              nprobe: Int): DataFrame =
    ivfTopKImpl(corpus, queries, idCol, vecCol, partCol, dim, k, nprobe, None)

  /** Filtered ANN — the vector-DB staple: top-k under a candidate
    * PREDICATE (tenant, language, date range …). The index layout is
    * untouched: centroids and probe ranking come from the FULL corpus
    * (filtering the layout would move centroids and silently change which
    * cells get probed), and the predicate prunes candidates inside the
    * probed cells before scoring — post-probe pre-filter, the semantics
    * FAISS/production stores document. A highly selective predicate can
    * leave fewer than k matches in the probed cells; raising nprobe is
    * the recall dial, exactly as unfiltered.
    */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, partCol: String, dim: Int, k: Int,
                      nprobe: Int, candidateFilter: Column): DataFrame =
    ivfTopKImpl(corpus, queries, idCol, vecCol, partCol, dim, k, nprobe,
      Some(candidateFilter))

  private def ivfTopKImpl(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, partCol: String, dim: Int, k: Int,
                          nprobe: Int, candidateFilter: Option[Column]): DataFrame = {
    requireIntegral(corpus, partCol, "ivfTopK")
    requireIntegral(corpus, idCol, "ivfTopK")
    val cent = cellCentroids(corpus, partCol, vecCol)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // probe assignment: nprobe nearest centroids per query, ranked through
    // the bounded aggregator — (ccos DESC, partCol ASC), the same total
    // order the previous window form declared. Unscoreable (NULL) centroid
    // cosines are dropped: a descending window ranks NULLs last, so they
    // could only ever be probed when fewer than nprobe scoreable centroids
    // exist — in which case probing fewer cells is the honest answer.
    val qcos = cosine("qv", "cvec", dim)
    val probeK = udaf(new graft.functions.Aggregators.TopK(nprobe))
    val probes = broadcast(q).crossJoin(broadcast(cent))
      .select(col("qid"), qcos.as("ccos"), col(partCol))
      .filter(col("ccos").isNotNull)
      .groupBy(col("qid"))
      .agg(probeK(col("ccos"), col(partCol)).as("ph"))
      .select(col("qid"), explode(col("ph")).as("h"))
      .select(col("qid"), col("h.id").as(partCol))
    // search only within probed partitions: the probe set (|Q|·nprobe rows +
    // query vectors) broadcasts; the corpus side stays partitioned, with the
    // parallelism floor for the per-pair cosines ([[graft.Core.fanOut]])
    // the candidate predicate (filtered search) applies HERE — after the
    // layout-defining centroid/probe stages, before any cosine is paid
    val c = graft.Core.fanOut(candidateFilter.map(corpus.filter).getOrElse(corpus))
      .select(col(partCol).cast("long").as(partCol),
              col(idCol).as("vb"), col(vecCol).as("eb"))
    val cos = cosine("qv", "eb", dim)
    val topk = udaf(new graft.functions.Aggregators.TopK(k))
    broadcast(probes.join(q, Seq("qid")))
      .join(c, Seq(partCol))
      .filter(col("qid") =!= col("vb"))
      .select(col("qid"), round(cos, 6).as("cos"), col("vb"))
      .filter(col("cos").isNotNull)
      .groupBy(col("qid"))
      .agg(topk(col("cos"), col("vb")).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("vb"), col("col.score").as("cos"))
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998) — the retrieval-diversification pass a RAG/curation pipeline
    * runs AFTER top-k: greedily pick `k` of the `nCand` most relevant
    * candidates, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so near-duplicates of
    * an already-selected hit are pushed down in favor of novel results.
    *
    * The greedy recurrence is inherently sequential in k, so the shape is
    * hybrid: the RELEVANCE stage is the distributed corpus-scale part
    * (cosine scan + per-partition top-nCand, the bruteForceTopK physics —
    * at 100 TB swap in [[ivfTopK]] unchanged); everything after operates
    * on the nCand-row candidate relation (nCand ≤ 256 enforced), k
    * bounded relational steps each checkpointed so the plan stays linear
    * in k (the textRank/funnel precedent).
    *
    * Determinism: rel and pairwise sims are the rounded(6) fused-kernel
    * cosines; each step's score rounds to 10 dp after one IEEE
    * multiply-subtract on identical inputs, ties broken by id — identical
    * picks on both engines. (1−λ) is the ENGINE's double arithmetic, not
    * the decimal literal (the textRank lesson).
    */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                queryId: Long, nCand: Int = 32, k: Int = 8,
                lambda: Double = 0.7): DataFrame = {
    require(nCand > 0 && nCand <= 256, s"mmrRerank: nCand must be in (0, 256], got $nCand")
    require(k > 0 && k <= nCand, s"mmrRerank: k must be in (0, nCand], got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"mmrRerank: lambda ∉ [0,1]: $lambda")
    requireIntegral(corpus, idCol, "mmrRerank")
    val oml = 1.0 - lambda
    val q = corpus.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    val rel = graft.Core.fanOut(corpus)
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol).as("cid"), round(cosine(vecCol, "qv", dim), 6).as("rel"),
        col(vecCol).as("cv"))
      .filter(col("rel").isNotNull)
    val cand = rel.orderBy(col("rel").desc, col("cid")).limit(nCand)
      .localCheckpoint() // nCand rows; consumed every greedy step
    val sims = cand.select(col("cid").as("ai"), col("cv").as("av"))
      .join(cand.select(col("cid").as("bi"), col("cv").as("bv")),
        col("ai") =!= col("bi"))
      .select(col("ai"), col("bi"), round(cosine("av", "bv", dim), 6).as("s"))
      .filter(col("s").isNotNull)
      .localCheckpoint() // ≤ nCand² rows
    // each greedy step materializes ONE job (the pick's checkpoint); the
    // picked-id set stays a LAZY union of those ≤k checkpointed 1-row
    // relations — its leaves are already-materialized RDD scans, so no
    // recompute, and the old per-step pickedIds.localCheckpoint was a
    // second scheduled job per step for a ≤k-row relation (r13: k jobs
    // deleted from the greedy loop, output bit-identical)
    var pickedSteps = Vector.empty[DataFrame]
    def pickedIds: DataFrame =
      pickedSteps.map(_.select(col("cid").as("pid"))).reduce(_ unionAll _)
    for (i <- 1 to k) {
      val remaining =
        if (i == 1) cand
        else cand.join(pickedIds, col("cid") === col("pid"), "left_anti")
      val ms =
        if (i == 1) remaining.select(col("cid"), lit(null).cast("double").as("ms"))
        else sims.join(pickedIds, col("bi") === col("pid"))
          .groupBy(col("ai")).agg(max(col("s")).as("ms"))
          .select(col("ai").as("cid"), col("ms"))
      val pick = remaining.join(ms, Seq("cid"), "left")
        .select(col("cid"), col("rel"),
          round(lit(lambda) * col("rel") -
            lit(oml) * coalesce(col("ms"), lit(0.0)), 10).as("score"))
        .orderBy(col("score").desc, col("cid")).limit(1)
        .select(lit(i).cast("int").as("rank"), col("cid"), col("rel"), col("score"))
        .localCheckpoint()
      pickedSteps :+= pick
    }
    pickedSteps.reduce(_ unionAll _)
      .select(col("rank"), col("cid").as("vec_id"), col("rel"), col("score"))
  }
}
