package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dsum, dsum14, dsumOver}
import graft.functions.Aggregators

/** M9: the full model-intercomparison orchestration (reference:
  * ml/rf.py:846-1331 + examples/crossval.py) — K-fold cross-validation of
  * several RF configurations evaluated AGAINST reference-product columns
  * (CPCH/RZC in the reference), with the solid/liquid phase split at 2 °C,
  * optional 10-min/60-min aggregation pair, and the reference's score-table
  * columns (N, CORR, STDE, MAE, scatter_db, logbias_db, ED — the shape of
  * BASELINE.md's skill table / all_scores_stats.p).
  *
  * Orchestration is a driver loop over folds/configs (exactly like the
  * reference); every score is a distributed aggregation — one multi-column
  * groupBy + one window pass for the weighted scatter + the EnergyDistance
  * Aggregator. No per-row driver work.
  */
object Intercomparison {

  final case class ModelConfig(name: String, features: Seq[String],
                               numTrees: Int = 15, maxDepth: Int = 20)

  /** Reference-style skill scores per (model, agg, phase, fold).
    * Input columns: model, agg, fold, phase, est, ref.
    *
    * CORR and STDE come from decimal-accumulated power sums, not Spark's
    * streaming `corr`/`stddev_samp`: the streaming co-moment merge is
    * partition-order-dependent in its low bits, which makes the rounded
    * score run-dependent right at a rounding boundary — power sums in
    * DECIMAL are exact, so every run (and the DuckDB oracle mirror,
    * m9_skill_scores) produces the identical bits. Degenerate groups keep
    * the aggregate-function semantics: corr of a constant series is NULL
    * (zero denominator), stde of a single row is NULL.
    */
  def skillScores(scored: DataFrame, minValid: Double = 0.1): DataFrame = {
    val keys = Seq("model", "agg", "phase", "fold").map(col)
    val est = col("est")
    val ref = col("ref")
    val d = est - ref
    val ed = udaf(new Aggregators.EnergyDistance())
    // GREATEST(...,0) before the sqrt: each factor is a variance times n²
    // (≥ 0 mathematically) but the decimal-rounded sums can leave a tiny
    // negative for a near-constant series — Spark's sqrt would give NaN
    // (harmlessly NULLed below) while DuckDB ABORTS the query on a negative
    // sqrt argument, so the clamp is load-bearing for the oracle mirror
    val corrDenom = sqrt(greatest(
      (col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
      (col("__n") * col("__syy") - col("__sy") * col("__sy")), lit(0.0)))
    val base = scored.groupBy(keys: _*).agg(
      count(lit(1)).as("__n"),
      dsum(est).as("__sx"), dsum(ref).as("__sy"),
      dsum14(est * est).as("__sxx"), dsum14(ref * ref).as("__syy"),
      dsum14(est * ref).as("__sxy"),
      dsum(d).as("__sd"), dsum14(d * d).as("__sdd"), dsum(abs(d)).as("__sad"),
      round(ed(est, ref), 6).as("ed"))
      .withColumn("n", col("__n"))
      .withColumn("corr", round(when(corrDenom > 0.0,
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / corrDenom), 6))
      .withColumn("stde", round(when(col("__n") > 1, sqrt(greatest(
        (col("__sdd") - col("__sd") * col("__sd") / col("__n")) / (col("__n") - 1),
        lit(0.0)))), 6))
      .withColumn("mae", round(col("__sad") / col("__n"), 6))
      .withColumn("logbias_db",
        round(log10(col("__sx") / col("__sy")) * 10.0, 6))
      .select(keys ++ Seq(col("n"), col("corr"), col("stde"), col("mae"),
        col("logbias_db"), col("ed")): _*)
    // weighted scatter on the conditional rows (the perfscores construction)
    val cond = scored.filter(est > minValid && ref > minValid)
      .withColumn("ratio_db", log10(est / ref) * 10.0)
      .withColumn("w", ref)
    val byRatio = Window.partitionBy(keys: _*).orderBy(col("ratio_db"))
    val grp = Window.partitionBy(keys: _*)
    val cum = cond
      .withColumn("cumw",
        dsumOver(col("w"), byRatio.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("totw", dsumOver(col("w"), grp))
    val quants = cum.groupBy(keys: _*).agg(
      min(when(col("cumw") >= col("totw") * 0.16, col("ratio_db"))).as("q16"),
      min(when(col("cumw") >= col("totw") * 0.84, col("ratio_db"))).as("q84"))
      .withColumn("scatter_db", round((col("q84") - col("q16")) / 2.0, 6))
      .drop("q16", "q84")
    base.join(quants, Seq("model", "agg", "phase", "fold"), "left")
  }

  /** One (model, fold) prediction slice in the common long shape. */
  private def slice(model: String, fold: Int, df: DataFrame, estCol: Column,
                    labelCol: String, tempCol: String,
                    hourCol: Option[String]): DataFrame = {
    val cols = Seq(
      lit(model).as("model"), lit(fold).as("fold"),
      estCol.cast("double").as("est"), col(labelCol).cast("double").as("ref"),
      col(tempCol).cast("double").as("temp")) ++
      hourCol.map(h => col(h).as("hour"))
    df.select(cols: _*)
  }

  /** Run the intercomparison: each config is K-fold cross-validated; each
    * reference product (a column of `data`) is evaluated on the same test
    * folds. Phase = solid (T < 2 °C) / liquid otherwise (reference
    * rf.py:1060-1075). With `hourCol` set, a second "60min" aggregation pass
    * scores the hourly sums (reference's 10/60-min table rows).
    * Returns the per-(model, agg, phase) table, fold-averaged.
    */
  def run(data: DataFrame, configs: Seq[ModelConfig],
          refProducts: Map[String, String], labelCol: String, tempCol: String,
          foldCol: String, k: Int,
          hourCol: Option[String] = None): DataFrame = {
    // every fold filters this once for train and once for test, and the RF
    // fit iterates over train — cache the input for the duration of the run
    val cached = data.cache()
    val slices = (0 until k).flatMap { f =>
      val train = cached.filter(col(foldCol) =!= f)
      val test = cached.filter(col(foldCol) === f)
      val rf = configs.map { cfg =>
        val m = RF.fit(train, cfg.features, labelCol, cfg.numTrees,
          cfg.maxDepth, featureSubset = "auto")
        slice(cfg.name, f, RF.predict(m, test), col("prediction_bc"),
          labelCol, tempCol, hourCol)
      }
      val refs = refProducts.toSeq.map { case (name, c) =>
        slice(name, f, test, col(c), labelCol, tempCol, hourCol)
      }
      rf ++ refs
    }
    // materialize the prediction union ONCE: four consumers follow (10-min
    // slice, hourly rollup, and two aggregation passes inside skillScores) —
    // without the cut each would re-run every RF model.transform. Disk-backed
    // executor-local checkpoint, ~k× the test data, never the driver.
    val all = try {
      slices.reduce(_ unionByName _)
        .withColumn("phase", when(col("temp") < 2.0, "solid").otherwise("liquid"))
        .localCheckpoint()
    } finally cached.unpersist()
    val tenMin = all.withColumn("agg", lit("10min"))
      .select("model", "agg", "phase", "fold", "est", "ref")
    val scored = hourCol match {
      case None => tenMin
      case Some(_) =>
        val hourly = all
          .groupBy(col("model"), col("fold"), col("phase"), col("hour"))
          .agg(dsum(col("est")).as("est"), dsum(col("ref")).as("ref"))
          .withColumn("agg", lit("60min"))
          .select("model", "agg", "phase", "fold", "est", "ref")
        tenMin.unionByName(hourly)
    }
    // fold-averaged rollup — the reference's all_scores_stats means
    skillScores(scored)
      .groupBy(col("model"), col("agg"), col("phase"))
      .agg(sum(col("n")).as("n"),
           round(avg(col("corr")), 6).as("corr"),
           round(avg(col("stde")), 6).as("stde"),
           round(avg(col("mae")), 6).as("mae"),
           round(avg(col("scatter_db")), 6).as("scatter_db"),
           round(avg(col("logbias_db")), 6).as("logbias_db"),
           round(avg(col("ed")), 6).as("ed"))
      .orderBy(col("model"), col("agg"), col("phase"))
  }
}
