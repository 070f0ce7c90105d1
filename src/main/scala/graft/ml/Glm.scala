package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.dsum

/** Generalized linear model training as a relational plan: logistic
  * regression via iteratively reweighted least squares (IRLS / Newton),
  * two features + intercept, a FIXED number of unrolled iterations — so
  * the whole fit is a deterministic dataflow with no driver-side loop
  * state, exactly mirrorable in SQL and gate-able like any other query.
  *
  * Each iteration is ONE map-combinable aggregation (the 3×3 symmetric
  * normal matrix + 3-vector gradient = nine decimal sums) followed by a
  * scalar Cramer solve on the 1-row result; the coefficient row is
  * broadcast back for the next pass. A 100 TB fit is `iters` linear scans
  * with nine numbers of state each — the classic data-parallel GLM shape.
  *
  * Cross-engine determinism: the sigmoid is the one libm call in the
  * loop, and exp is not guaranteed correctly-rounded on either engine —
  * so p is rounded to 9 dp immediately (identical on both sides), which
  * absorbs 1-ulp exp differences except on a ~4e-7-per-row rounding
  * boundary; the 6-dp output round absorbs the residue. Same treatment
  * as the pow(10,·) in text_perplexity.
  */
object Glm {

  /** Fit P(y=1) = σ(b0 + b1·x1 + b2·x2) with `iters` Newton steps from
    * β = 0. Returns one row: n, b0, b1, b2 (6 dp). Rows with NULL
    * feature/label are dropped. The caller scales features to O(1) —
    * IRLS on raw magnitudes is the usual conditioning trap.
    */
  def logisticIrls(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
                   iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 6, s"logisticIrls: bad iters=$iters")
    val base = df.select(col(yCol).cast("double").as("y"),
        col(x1Col).cast("double").as("x1"), col(x2Col).cast("double").as("x2"))
      .filter(col("y").isNotNull && col("x1").isNotNull && col("x2").isNotNull)
      .localCheckpoint() // scanned once per iteration
    var beta = base.sparkSession.range(1)
      .select(lit(0.0).as("b0"), lit(0.0).as("b1"), lit(0.0).as("b2"))
    for (_ <- 1 to iters) {
      val eta = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
      val p = round(lit(1.0) / (lit(1.0) + exp(-eta)), 9)
      val scored = base.crossJoin(broadcast(beta))
        .select(col("y"), col("x1"), col("x2"), p.as("p"),
          (p * (lit(1.0) - p)).as("w"))
      val m = scored.agg(
        count(lit(1)).as("n"),
        dsum(col("w")).as("a11"),
        dsum(col("w") * col("x1")).as("a12"),
        dsum(col("w") * col("x2")).as("a13"),
        dsum(col("w") * col("x1") * col("x1")).as("a22"),
        dsum(col("w") * col("x1") * col("x2")).as("a23"),
        dsum(col("w") * col("x2") * col("x2")).as("a33"),
        dsum(col("y") - col("p")).as("g1"),
        dsum((col("y") - col("p")) * col("x1")).as("g2"),
        dsum((col("y") - col("p")) * col("x2")).as("g3"))
      val det = col("a11") * (col("a22") * col("a33") - col("a23") * col("a23")) -
        col("a12") * (col("a12") * col("a33") - col("a23") * col("a13")) +
        col("a13") * (col("a12") * col("a23") - col("a22") * col("a13"))
      val d1 = (col("g1") * (col("a22") * col("a33") - col("a23") * col("a23")) -
        col("a12") * (col("g2") * col("a33") - col("a23") * col("g3")) +
        col("a13") * (col("g2") * col("a23") - col("a22") * col("g3"))) / det
      val d2 = (col("a11") * (col("g2") * col("a33") - col("a23") * col("g3")) -
        col("g1") * (col("a12") * col("a33") - col("a23") * col("a13")) +
        col("a13") * (col("a12") * col("g3") - col("g2") * col("a13"))) / det
      val d3 = (col("a11") * (col("a22") * col("g3") - col("g2") * col("a23")) -
        col("a12") * (col("a12") * col("g3") - col("g2") * col("a13")) +
        col("g1") * (col("a12") * col("a23") - col("a22") * col("a13"))) / det
      // drop the previous round's n before the cross join — m carries its
      // own n and iteration ≥2 would otherwise hit an ambiguous column
      beta = m.crossJoin(broadcast(
          beta.select(col("b0"), col("b1"), col("b2"))))
        .select(col("n"), (col("b0") + d1).as("b0"), (col("b1") + d2).as("b1"),
          (col("b2") + d3).as("b2"))
        .localCheckpoint()
    }
    beta.select(col("n"), round(col("b0"), 6).as("b0"),
      round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"))
  }

  /** Robust simple linear regression via Huber IRLS: weights
    * w = min(1, c/|r|) against the previous fit's residuals, `iters`
    * unrolled reweighted least-squares rounds from the OLS start.
    * Unlike the logistic fit there is NO libm call anywhere — weights
    * are one division and a min, the solve is the 2×2 closed form — so
    * every iteration is exactly deterministic with no rounding tricks.
    * Same scale shape as [[logisticIrls]]: one sufficient-statistics agg
    * per round against the broadcast 1-row coefficient relation.
    */
  def huberIrls(df: DataFrame, yCol: String, xCol: String, c: Double = 1.5,
                iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 6, s"huberIrls: bad iters=$iters")
    require(c > 0, s"huberIrls: c must be positive; got $c")
    val base = df.select(col(yCol).cast("double").as("y"),
        col(xCol).cast("double").as("x"))
      .filter(col("y").isNotNull && col("x").isNotNull)
      .localCheckpoint()
    def wls(weighted: DataFrame): DataFrame = {
      val m = weighted.agg(
        count(lit(1)).as("n"),
        dsum(col("w")).as("sw"),
        dsum(col("w") * col("x")).as("swx"),
        dsum(col("w") * col("x") * col("x")).as("swxx"),
        dsum(col("w") * col("y")).as("swy"),
        dsum(col("w") * col("x") * col("y")).as("swxy"))
      val det = col("sw") * col("swxx") - col("swx") * col("swx")
      m.select(col("n"),
        ((col("swy") * col("swxx") - col("swx") * col("swxy")) / det).as("b0"),
        ((col("sw") * col("swxy") - col("swx") * col("swy")) / det).as("b1"))
        .localCheckpoint()
    }
    var beta = wls(base.withColumn("w", lit(1.0))) // OLS start
    for (_ <- 1 to iters) {
      val r = abs(col("y") - (col("b0") + col("b1") * col("x")))
      val w = when(r <= c, lit(1.0)).otherwise(lit(c) / r)
      val weighted = base.crossJoin(broadcast(
          beta.select(col("b0"), col("b1"))))
        .select(col("y"), col("x"), w.as("w"))
      beta = wls(weighted)
    }
    beta.select(col("n"), round(col("b0"), 6).as("b0"),
      round(col("b1"), 6).as("b1"))
  }
}
