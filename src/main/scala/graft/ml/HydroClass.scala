package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M10/J10: hydrometeor classification by nearest centroid
  * (reference: common/radarprocessing.py:633-779 hydroClass_single — the
  * semisupervised scheme: standardize the polarimetric features, then assign
  * each gate to the argmin-Minkowski-distance class centroid; per-radar
  * centroid tables, constants.py:339-384).
  *
  * Spark-first realization: the centroid table is small and static, so each
  * class distance becomes one codegen'd column and the argmin is a
  * `least` + `when` chain — no cross join, no groupBy, no UDF; the only
  * exchange is the 1-row moments broadcast for standardization.
  */
object HydroClass {

  final case class Centroid(hydroClass: String, values: Seq[Double])

  def classify(df: DataFrame, features: Seq[String],
               centroids: Seq[Centroid], p: Double = 2.0): DataFrame = {
    require(centroids.forall(_.values.length == features.length))

    // global moments in one 1-row aggregation, attached as a broadcast
    // nested-loop join of width 1 (per-radar variant: group upstream)
    val moments = df.agg(
      features.flatMap(f => Seq(avg(col(f)).as(s"__mu_$f"),
        stddev_pop(col(f)).as(s"__sd_$f"))).head,
      features.flatMap(f => Seq(avg(col(f)).as(s"__mu_$f"),
        stddev_pop(col(f)).as(s"__sd_$f"))).tail: _*)
    val standardized = df.crossJoin(broadcast(moments))

    def distTo(c: Centroid): Column =
      pow(features.zip(c.values).map { case (f, cv) =>
        val z = (col(f) - col(s"__mu_$f")) / col(s"__sd_$f")
        pow(abs(z - cv), p)
      }.reduce(_ + _), 1.0 / p)

    val dists = centroids.map(c => c.hydroClass -> distTo(c))
    val minDist = least(dists.map(_._2): _*)
    // ties resolve to the first centroid in declaration order — deterministic
    val cls = dists.foldRight(lit(null).cast("string")) {
      case ((name, d), acc) => when(d === minDist, lit(name)).otherwise(acc)
    }

    standardized
      .withColumn("hydro_class", cls)
      .withColumn("hydro_dist", minDist)
      .drop(features.flatMap(f => Seq(s"__mu_$f", s"__sd_$f")): _*)
  }

  /** Fixed-range feature standardization (the pyart `_standardize` shape
    * the reference applies to both gates and mass centers:
    * radarprocessing.py:707-779 hydroClass_single_over_iso): clamp to
    * [mn, mx], then map linearly onto [-1, 1]. Pure per-row arithmetic —
    * no data-dependent moments, so it is trivially deterministic and
    * constant-folds when applied to centroid literals.
    */
  def standardizeFixed(x: Column, mn: Double, mx: Double): Column =
    lit(2.0) * (least(greatest(x, lit(mn)), lit(mx)) - lit(mn)) /
      lit(mx - mn) - lit(1.0)

  /** The per-group variant of [[classify]] — the
    * `hydroClass_single_over_iso` analog (reference
    * common/radarprocessing.py:707-779, used by the database_5min ETL:
    * retrieve_radar_data_5min.py:767): each radar has its OWN static
    * centroid table (constants.py HYDRO_CENTROIDS), the 5th feature is the
    * gate height over the freezing level (altitude − ISO0) instead of a
    * temperature proxy, features are standardized with the FIXED pyart
    * ranges (not data moments), and the distance is the weighted Minkowski
    * of the reference's `cdist(..., w=weights)`.
    *
    * Spark-first realization: the per-group centroid tables are static
    * constants, so the whole classifier compiles to codegen'd projections —
    * one distance column per (group, centroid), then a `when` chain on the
    * group column dispatching to that group's argmin `when` chain over
    * those columns. No join, no shuffle, no UDF;
    * at 100 TB this is a map-only pass. Rows whose group has no centroid
    * table classify as null (the reference's NaN → "no data").
    */
  def classifyPerGroup(df: DataFrame, groupCol: String,
                       features: Seq[String], ranges: Seq[(Double, Double)],
                       centroidsByGroup: Map[String, Seq[Centroid]],
                       weights: Seq[Double], p: Double = 2.0): DataFrame = {
    require(weights.length == features.length &&
      ranges.length == features.length,
      "features, ranges and weights must align")
    centroidsByGroup.foreach { case (g, cs) =>
      require(cs.nonEmpty && cs.forall(_.values.length == features.length),
        s"group $g centroid width must match ${features.length} features")
    }
    def distTo(c: Centroid): Column =
      features.indices.map { i =>
        val (mn, mx) = ranges(i)
        val d = standardizeFixed(col(features(i)), mn, mx) -
          standardizeFixed(lit(c.values(i)), mn, mx)
        if (p == 2.0) lit(weights(i)) * d * d
        else lit(weights(i)) * pow(abs(d), p)
      }.reduce(_ + _)
    // each centroid distance is computed ONCE, in its own column below the
    // argmin (null outside its group): inlined into the least/when chains
    // every distance tree repeats per reference, and the generated code
    // outgrows the JVM's 64 KB method limit and falls off codegen
    val byGroup = centroidsByGroup.toSeq.sortBy(_._1).zipWithIndex.map { case ((g, cs), gi) =>
      val dists = cs.zipWithIndex.map { case (c, ci) =>
        (c.hydroClass, s"__hd_${gi}_$ci", when(col(groupCol) === g, distTo(c)))
      }
      val minD = least(dists.map(d => col(d._2)): _*)
      // ties resolve to declaration order, like classify
      val cls = dists.foldRight(lit(null).cast("string")) {
        case ((name, d, _), acc) => when(col(d) === minD, lit(name)).otherwise(acc)
      }
      (g, cls, minD, dists)
    }
    val clsAll = byGroup.foldRight(lit(null).cast("string")) {
      case ((g, cls, _, _), acc) => when(col(groupCol) === g, cls).otherwise(acc)
    }
    val distAll = byGroup.foldRight(lit(null).cast("double")) {
      case ((g, _, d, _), acc) => when(col(groupCol) === g, d).otherwise(acc)
    }
    val distCols = byGroup.flatMap(_._4)
    df.select(col("*") +: distCols.map { case (_, name, d) => d.as(name) }: _*)
      .withColumn("hydro_class", clsAll)
      .withColumn("hydro_dist",
        if (p == 2.0) sqrt(distAll) else pow(distAll, lit(1.0 / p)))
      .drop(distCols.map(_._2): _*)
  }
}
