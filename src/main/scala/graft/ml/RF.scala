package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M1/M4/M8/M9: the RandomForest regression pipeline with a-posteriori bias
  * correction (reference: ml/rfdefinitions.py:61-242 RandomForestRegressorBC;
  * training flow ml/rf.py:288-630 fit_models; defaults
  * ml/default_config.yml RANDOMFOREST_REGRESSOR: 15 trees, maxDepth 20,
  * 7 features per split).
  *
  * Distributed end-to-end: MLlib RF replaces sklearn (north-star mandate);
  * the bias correction is the sorted-zip quantile map of
  * [[BiasCorrection]]; prediction is a model.transform + column clamp.
  */
object RF {

  final case class FittedModel(rf: RandomForestRegressionModel,
                               features: Seq[String],
                               bcSlope: Double)

  def assembler(features: Seq[String]): VectorAssembler =
    new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
      .setHandleInvalid("skip")

  /** Fit RF + 'cdf' bias correction on the training predictions
    * (reference: rfdefinitions.py:152-202 — BC is fitted on the model's own
    * sorted training predictions vs sorted observations).
    */
  def fit(train: DataFrame, features: Seq[String], labelCol: String,
          numTrees: Int = 15, maxDepth: Int = 20,
          featureSubset: String = "7", seed: Long = 42L): FittedModel = {
    // cache: the assembled relation feeds the (multi-pass) forest fit AND
    // the training-prediction pass the BC slope needs; the slope collect
    // below is eager, so the cache can be released before returning
    val assembled = assembler(features).transform(train).cache()
    try {
      val rf = new RandomForestRegressor()
        .setNumTrees(numTrees)
        .setMaxDepth(math.min(maxDepth, 30))
        .setFeatureSubsetStrategy(featureSubset)
        .setLabelCol(labelCol)
        .setFeaturesCol("features")
        .setSeed(seed)
        .fit(assembled)
      val preds = rf.transform(assembled).select(col("prediction"), col(labelCol))
      val slope = BiasCorrection.cdfSlope(preds, "prediction", labelCol)
        .collect().head.getDouble(0)
      FittedModel(rf, features, slope)
    } finally assembled.unpersist()
  }

  /** Predict with BC + non-negativity clamp (reference: rfdefinitions.py:205-242). */
  def predict(model: FittedModel, data: DataFrame): DataFrame = {
    val assembled = assembler(model.features).transform(data)
    model.rf.transform(assembled)
      .withColumn("prediction_bc",
        BiasCorrection.applyCdf(col("prediction"), model.bcSlope))
      .drop("features")
  }

  /** M1 artifacts: persist/restore the trained model — MLlib native save for
    * the forest + a small JSON sidecar for the BC slope and feature list
    * (replaces the reference's pickle, ml/rfdefinitions.py:257-319 read_rf).
    */
  def save(model: FittedModel, path: String): Unit = {
    model.rf.write.overwrite().save(s"$path/rf")
    val meta = s"""{"bcSlope": ${model.bcSlope}, "features": [${
      model.features.map(f => "\"" + f + "\"").mkString(", ")}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/bc.json").toAbsolutePath, meta)
  }

  def load(path: String): FittedModel = {
    val rf = RandomForestRegressionModel.load(s"$path/rf")
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/bc.json"))
    val slope = """"bcSlope":\s*([-0-9.eE]+)""".r.findFirstMatchIn(meta).get.group(1).toDouble
    val features = """"([^"]+)"""".r.findAllMatchIn(
      meta.substring(meta.indexOf("["))).map(_.group(1)).toSeq
    FittedModel(rf, features, slope)
  }

  /** M8: permutation feature importance — permute one feature column (a
    * deterministic hash-keyed re-pairing, the distributed analogue of the
    * reference's in-place shuffle, ml/rf.py:801-839) and measure the RMSE
    * degradation.
    */
  def permuteColumn(df: DataFrame, column: String, seed: Int,
                    buckets: Int = 64): DataFrame = {
    val others = df.columns.filterNot(_ == column)
    val all = df.columns.map(col).toSeq
    // Deterministic random bucketing: hash of the full row (not rand(), not
    // monotonically_increasing_id — both unstable across stage re-runs).
    // Every window below is PARTITIONED by the bucket, so the sort is
    // per-bucket (~n/buckets rows), never a single-partition global sort.
    // A within-bucket shuffle of randomly-bucketed rows is a valid random
    // permutation for importance purposes (buckets are independent of the
    // permuted column by hash mixing).
    val keyed = df.withColumn("__b",
      pmod(hash(struct(all: _*), lit(seed)), lit(buckets)))
    val wBase = Window.partitionBy(col("__b"))
      .orderBy(hash(struct(all: _*), lit(seed + 1)), struct(all: _*))
    val base = keyed.withColumn("__rn", row_number().over(wBase))
    val wPerm = Window.partitionBy(col("__b"))
      .orderBy(hash(col(column), lit(seed + 2)), col(column))
    val shuffled = keyed.select(col("__b"), col(column))
      .withColumn("__rn", row_number().over(wPerm))
      .withColumnRenamed(column, s"__perm_$column")
    base.join(shuffled, Seq("__b", "__rn"))
      .select((others.map(col) :+ col(s"__perm_$column").as(column)): _*)
  }

  def rmse(preds: DataFrame, predCol: String, labelCol: String): Double =
    preds.agg(sqrt(avg(pow(col(predCol) - col(labelCol), 2.0)))).collect().head.getDouble(0)

  def permutationImportance(model: FittedModel, test: DataFrame,
                            labelCol: String, seed: Int = 17): Seq[(String, Double)] = {
    val baseRmse = rmse(predict(model, test), "prediction_bc", labelCol)
    model.features.map { f =>
      val permuted = permuteColumn(test, f, seed)
      val r = rmse(predict(model, permuted), "prediction_bc", labelCol)
      f -> ((r - baseRmse) / baseRmse)
    }
  }

}
