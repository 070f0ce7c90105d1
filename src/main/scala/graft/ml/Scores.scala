package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dsum, dsumOver}

/** M6/M7: skill scores (reference: common/utils.py:76-166 perfscores,
  * performance/eval_calculate.py:30-159 contingency scores).
  *
  * All scores are one groupBy + (for the scatter quantiles) one window sort
  * per group — no driver-side loops, decimal accumulators for
  * order-independence.
  */
object Scores {

  /** M6 `perfscores`: per-group N, logBias = 10·log10(Σest/Σref), conditional
    * RMSE over rows where both est and ref exceed `minValid`, and scatter =
    * ½·(Q84w − Q16w) of the dB error 10·log10(est/ref), weighted by the
    * reference share (reference: common/utils.py:76-166; weighted quantile
    * utils.py:294-369 — realized here as an exact cumulative-weight crossing
    * on the per-group sort, the distributed equivalent).
    */
  def perfscores(df: DataFrame, groupCol: String, estCol: String, refCol: String,
                 minValid: Double = 0.1): DataFrame = {
    val est = col(estCol)
    val ref = col(refCol)
    val valid = df.filter(est.isNotNull && ref.isNotNull)

    val base = valid.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      round(log10(dsum(est) / dsum(ref)) * 10.0, 6).as("logbias_db"),
      round(sqrt(dsum(when(est > minValid && ref > minValid,
          (est - ref) * (est - ref))) /
        count(when(est > minValid && ref > minValid, lit(1)))), 6).as("rmse_cond"))

    // scatter: weighted quantiles of the dB ratio over the conditional rows
    val cond = valid.filter(est > minValid && ref > minValid)
      .withColumn("ratio_db", log10(est / ref) * 10.0)
      .withColumn("w", ref)
    val byRatio = Window.partitionBy(col(groupCol)).orderBy(col("ratio_db"))
    val grp = Window.partitionBy(col(groupCol))
    val cum = cond
      .withColumn("cumw",
        dsumOver(col("w"), byRatio.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("totw", dsumOver(col("w"), grp))
    val quants = cum.groupBy(col(groupCol)).agg(
      min(when(col("cumw") >= col("totw") * 0.16, col("ratio_db"))).as("q16"),
      min(when(col("cumw") >= col("totw") * 0.84, col("ratio_db"))).as("q84"))
      .withColumn("scatter_db", round((col("q84") - col("q16")) / 2.0, 6))
      .drop("q16", "q84")

    base.join(quants, Seq(groupCol), "left")
  }

  /** M7: contingency table at a (obs, pred) threshold pair + the derived
    * categorical scores POD / FAR / CSI
    * (reference: performance/eval_calculate.py:30-159).
    */
  def contingency(df: DataFrame, groupCol: String, obsEvent: Column,
                  predEvent: Column): DataFrame =
    df.groupBy(col(groupCol)).agg(
        count(when(obsEvent && predEvent, lit(1))).as("hits"),
        count(when(obsEvent && !predEvent, lit(1))).as("misses"),
        count(when(!obsEvent && predEvent, lit(1))).as("false_alarms"),
        count(when(!obsEvent && !predEvent, lit(1))).as("correct_negatives"))
      .withColumn("pod", round(col("hits") / (col("hits") + col("misses")), 6))
      .withColumn("far", round(col("false_alarms") / (col("hits") + col("false_alarms")), 6))
      .withColumn("csi", round(col("hits") / (col("hits") + col("misses") + col("false_alarms")), 6))
  /** AUC-ROC by the Mann-Whitney rank-sum, tie-corrected with average
    * ranks, computed on the CONTRACTED per-score relation: one
    * map-combinable (score → n, n_pos) aggregation, a running-count
    * window over the |distinct scores| rows, and a scalar reduction —
    *   AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    * Never a rank window over the corpus: a billion rows with a bounded
    * score vocabulary (or quantized scores) contract before any sort.
    * Degenerate inputs (single class) return NULL AUC.
    */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = df.select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("boolean").as("pos"))
      .filter(col("s").isNotNull && col("pos").isNotNull)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("avgrank",
        col("cum").cast("double") + (col("n") + lit(1)) / lit(2.0))
    val agg = ranked.agg(
      sum(col("np")).as("n_pos"),
      sum(col("n") - col("np")).as("n_neg"),
      dsum(col("np").cast("double") * col("avgrank")).as("spr"))
    agg.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round((col("spr") -
            col("n_pos").cast("double") * (col("n_pos") + lit(1)) / lit(2.0)) /
          (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
        .as("auc"))
  }

  /** Expected + maximum calibration error over equal-width probability
    * bins (the m12 reliability diagram reduced to its two headline
    * numbers): ECE = Σ_b (n_b/N)·|posrate_b − meanest_b|, MCE = max gap.
    * Per-bin means come from decimal-exact sums; the bin-gap terms are
    * decimal-truncated before the final sum so ECE is merge-order
    * independent.
    */
  def calibrationEce(df: DataFrame, estCol: String, labelCol: String,
                     bins: Int = 10): DataFrame = {
    val b = df.select(col(estCol).cast("double").as("est"),
        col(labelCol).cast("double").as("pos"))
      .filter(col("est").isNotNull && col("pos").isNotNull)
      // last bin is inclusive: est = 1.0 belongs to bin bins−1, not an
      // out-of-range bin of its own (the standard reliability-diagram
      // convention)
      .groupBy(least(floor(col("est") * bins), lit(bins - 1)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        dsum(col("est")).as("se"), dsum(col("pos")).as("sp"))
    val gap = abs(col("sp") / col("n") - col("se") / col("n"))
    b.agg(count(lit(1)).as("n_bins"), sum(col("n")).as("n"),
        dsum(col("n").cast("double") * gap).as("wg"),
        round(max(gap), 6).as("mce"))
      .select(col("n_bins"), col("n"),
        round(col("wg") / col("n").cast("double"), 6).as("ece"), col("mce"))
  }
}
