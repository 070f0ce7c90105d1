package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.dsum6

/** Deterministic alternating-least-squares matrix factorization with two
  * latent factors — collaborative filtering as an exact-gated dataflow.
  * MLlib's ALS seeds factors from an engine-local RNG; here the item
  * factors initialize from a 60-bit md5 of the item id (content hash, not
  * RNG), so the WHOLE fit is reproducible and SQL-mirrorable, the same
  * move that put the logistic-IRLS and Lloyd-kmeans fits under the
  * oracle gate.
  *
  * Each half-step solves the per-entity ridge normal equations in closed
  * form (k=2 → a 2×2 Cramer solve on five exact fixed-point sufficient
  * sums — see the [[fx]] kernel). Factors are fixed-order IEEE arithmetic
  * on those order-independent sums, so the fit is bit-identical across
  * engines and partitionings.
  *
  * Scale shape per half-step: one key-partitioned join of the ratings
  * against the |entities|-row factor relation, one map-combinable
  * five-sum aggregation — the standard distributed-ALS physics, never a
  * per-entity collect. `iters` is small and fixed; each half-step's
  * factor relation is localCheckpointed (consumed by the next half-step
  * and the final scoring pass).
  */
object Als {

  /** Fixed-point exact sum kernel: quantize each term to 1e-10 by FLOOR
    * (identical IEEE arithmetic on both engines — floor dodges the
    * round-half cross-engine trap entirely) and sum LONGS. Integer
    * addition is associative, so the result is partitioning-independent
    * like a decimal sum, but it runs on the primitive codegen fast path —
    * measured 6× faster per half-step than DECIMAL accumulation, which is
    * why the six-half-step fit uses it. ANSI mode turns a long overflow
    * into a loud failure; terms here are ≤ ~1e12 unscaled, so groups up
    * to ~10⁶ rows are safe by three orders of magnitude.
    */
  private val fxQ = 1.0e10
  private def fx(c: Column): Column = floor(c * lit(fxQ)).cast("long")
  private def unfx(c: Column): Column = c.cast("double") / lit(fxQ)

  /** Hash-uniform in [0, 1): the md5Long 60-bit value over `tag:id`. */
  private def hashU(idCol: Column, tag: String): Column =
    graft.llm.TextAnalysis.md5Long(
      concat(lit(tag), lit(":"), idCol.cast("string"))) /
      lit(1152921504606846976.0)

  /** One ridge half-step: solve factors for `solveKey` given the other
    * side's factors `given` (keyed `givenKey`, columns f1/f2). Returns
    * (solveKey, f1, f2).
    */
  private def halfStep(ratings: DataFrame, solveKey: String, givenKey: String,
                       given: DataFrame, lambda: Double): DataFrame = {
    // the factor side is |entities|×3 numeric columns — broadcast it so
    // the ratings never shuffle (a checkpointed relation carries no size
    // stats, so the planner would sort-merge otherwise). At a scale where
    // factors outgrow a broadcast, pre-bucket both sides on the key and
    // drop the hint — the sums/solve are unchanged.
    val j = ratings.join(broadcast(given), Seq(givenKey))
    val s = j.groupBy(col(solveKey))
      .agg(unfx(sum(fx(col("f1") * col("f1")))).as("a11"),
        unfx(sum(fx(col("f1") * col("f2")))).as("a12"),
        unfx(sum(fx(col("f2") * col("f2")))).as("a22"),
        unfx(sum(fx(col("r") * col("f1")))).as("b1"),
        unfx(sum(fx(col("r") * col("f2")))).as("b2"))
    val a11 = col("a11") + lambda
    val a22 = col("a22") + lambda
    val det = a11 * a22 - col("a12") * col("a12")
    s.select(col(solveKey),
      ((a22 * col("b1") - col("a12") * col("b2")) / det).as("f1"),
      ((a11 * col("b2") - col("a12") * col("b1")) / det).as("f2"))
      .localCheckpoint()
  }

  /** Fit k=2 factors over a (userCol, itemCol, ratingCol) relation:
    * item factors init from the content hash, then `iters` rounds of
    * (solve users | solve items). Returns (userFactors, itemFactors),
    * both (id, f1, f2) and localCheckpointed.
    */
  def factorize2(df: DataFrame, userCol: String, itemCol: String,
                 ratingCol: String, iters: Int,
                 lambda: Double): (DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 8, s"factorize2: bad iters=$iters")
    // the ridge term is what guarantees det > 0 in the 2×2 Cramer solve;
    // lambda <= 0 would silently emit Inf/NaN factors on rank-1 subspaces
    require(lambda > 0, s"factorize2: bad lambda=$lambda (must be > 0)")
    // lazy evictable persist: each half-step is its own checkpointed job,
    // so without the cache the ratings join re-scans the source 2·iters
    // times; released before return (the factor relations are
    // materialized by then)
    // fanOut before the cache: the ratings arrive as one scan split at
    // bench scale, the cache freezes that layout, and every half-step's
    // join BROADCASTS the factor side — so all 2·iters sufficient-stats
    // aggregations would run on one core (the frozen-coalesced-layout
    // rule from the graph family)
    val ratings = graft.Core.fanOut(df
        .filter(col(ratingCol).isNotNull && !isnan(col(ratingCol).cast("double")))
        .select(col(userCol).as("u"), col(itemCol).as("p"),
          col(ratingCol).cast("double").as("r")))
      .persist()
    var items = ratings.select(col("p")).distinct()
      .select(col("p"), hashU(col("p"), "f1").as("f1"),
        hashU(col("p"), "f2").as("f2"))
      .localCheckpoint()
    var users: DataFrame = null
    for (_ <- 1 to iters) {
      users = halfStep(ratings, "u", "p",
        items.select(col("p"), col("f1"), col("f2")), lambda)
      items = halfStep(ratings, "p", "u", users, lambda)
    }
    ratings.unpersist()
    (users, items)
  }

  /** Fit + evaluate: the per-rating squared error of uᵀv against r,
    * aggregated to one (n, rmse) row — the training-fit diagnostic.
    */
  def fitRmse(df: DataFrame, userCol: String, itemCol: String,
              ratingCol: String, iters: Int, lambda: Double): DataFrame = {
    val (users, items) = factorize2(df, userCol, itemCol, ratingCol,
      iters, lambda)
    val ratings = df
      .filter(col(ratingCol).isNotNull && !isnan(col(ratingCol).cast("double")))
      .select(col(userCol).as("u"), col(itemCol).as("p"),
        col(ratingCol).cast("double").as("r"))
    ratings
      .join(users.select(col("u"), col("f1").as("u1"), col("f2").as("u2")), Seq("u"))
      .join(items.select(col("p"), col("f1").as("v1"), col("f2").as("v2")), Seq("p"))
      .select(((col("r") - (col("u1") * col("v1") + col("u2") * col("v2"))) *
        (col("r") - (col("u1") * col("v1") + col("u2") * col("v2")))).as("se"))
      .agg(count(lit(1)).as("n"),
        dsum6(col("se")).as("sse"))
      .select(col("n"), sqrt(col("sse") / col("n").cast("double")).as("rmse"))
  }
}
