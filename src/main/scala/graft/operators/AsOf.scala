package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J7: as-of (nearest-earlier) temporal join, plus the simpler time-bucket
  * join the reference actually uses (common/utils.py:586-611 nearest_time +
  * utils.py:613-674 get_qpe_files bucketing).
  *
  * The as-of join is implemented with the union-and-sort technique rather
  * than a pairwise theta-join: tag both sides, union, one sort per key
  * partition, then `last(right_value) ignoring nulls` gives every left row
  * the most recent right row at-or-before it. Cost: ONE shuffle on the key —
  * same as a regular join — instead of the quadratic range theta-join
  * Catalyst would otherwise plan. This is the standard scalable pattern
  * (cf. Flink temporal joins / pandas merge_asof semantics).
  */
object AsOf {

  /** Left as-of join: for each left row, attach `valueCols` from the latest
    * right row with right.ts <= left.ts (per key). Column name collisions are
    * the caller's responsibility (valueCols must not exist on the left).
    *
    * Tie contract: multiple right rows at the SAME (key, ts) resolve to the
    * greatest value tuple (lexicographic max over valueCols) — the value
    * struct itself is the FINAL window ordering key, so the tie-break rides
    * the one sort the union technique already pays for (no extra exchange);
    * without it, `last` over a (ts, side)-ordered window would attach
    * whichever tied row the shuffle happened to order last (the repo's
    * spell-the-tie-break rule; mirrors reduce with GROUP BY key,ts + MAX,
    * which is equivalent because ties only reorder within one (ts, side)
    * group and ascending order puts the max struct last).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns
    // All valueCols travel as ONE struct per right row: last(ignoreNulls) then
    // attaches the most recent right ROW atomically — a right row whose values
    // are null still wins (matching merge_asof / DuckDB ASOF JOIN), and the
    // output never mixes columns from different right rows.
    val rStruct = StructType(valueCols.map(c => StructField(c, right.schema(c).dataType)))
    val tagged = left
      .withColumn("__side", lit(1))
      .select(leftCols.map(col) :+ col("__side")
        :+ lit(null).cast(rStruct).as("__r"): _*)
    val rightTagged = right
      .withColumn("__side", lit(0))
      .select(leftCols.map(c => if (c == key || c == tsCol) col(c)
                               else lit(null).cast(left.schema(c).dataType).as(c))
        :+ col("__side") :+ struct(valueCols.map(col): _*).as("__r"): _*)
    // order: at equal timestamps the right row sorts first (side 0) so a
    // same-instant right observation is visible to the left row (<= semantics);
    // __r last so tied right rows end max-last (left rows' null __r sorts
    // first within their group, which is inert — they share side 1). A map-
    // valued valueCol makes the struct unorderable: fall back to (ts, side)
    // and ties stay arbitrary for that caller (documented above).
    val orderCols =
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(rStruct))
        Seq(col(tsCol), col("__side"), col("__r"))
      else Seq(col(tsCol), col("__side"))
    val w = Window.partitionBy(col(key)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = tagged.unionByName(rightTagged)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** Range join: `left.ts ∈ [right.start, right.end]` — Catalyst plans the
    * raw theta-join as BroadcastNestedLoop/cartesian, which dies at scale.
    * Rewrite: bucketize time into fixed-width cells, explode each right
    * interval over the buckets it spans, equi-join on the bucket, keep the
    * residual predicate. Cost: |right| × avg-span/width extra rows instead
    * of |left|×|right| comparisons; both sides shuffle ONCE on the bucket.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, tsCol: String,
                startCol: String, endCol: String,
                bucketSeconds: Long): DataFrame = {
    val lb = left.withColumn("__bucket",
      (unix_timestamp(col(tsCol)) - unix_timestamp(col(tsCol)) % bucketSeconds))
    val rb = right.withColumn("__bucket",
      explode(sequence(
        unix_timestamp(col(startCol)) - unix_timestamp(col(startCol)) % bucketSeconds,
        unix_timestamp(col(endCol)) - unix_timestamp(col(endCol)) % bucketSeconds,
        lit(bucketSeconds))))
    lb.join(rb, Seq("__bucket"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bucket")
  }

  /** J8: temporal interpolation join — values known at hourly anchors are
    * linearly interpolated to each sub-hourly timestamp
    * (reference: common/radarprocessing.py:489-534 HZT_hourly_to_5min).
    * Join on the floor-hour and the next hour, blend by the fraction.
    */
  def interpolateJoin(points: DataFrame, hourly: DataFrame, key: String,
                      tsCol: String, hourCol: String, valueCol: String): DataFrame = {
    val ep = unix_timestamp(col(tsCol))
    val h0 = hourly.select(col(key), col(hourCol).as("__h0"), col(valueCol).as("__v0"))
    val h1 = hourly.select(col(key), col(hourCol).as("__h1"), col(valueCol).as("__v1"))
    points
      .withColumn("__h0", ep - ep % 3600)
      .withColumn("__h1", col("__h0") + 3600)
      .join(h0, Seq(key, "__h0"), "left")
      .join(h1, Seq(key, "__h1"), "left")
      .withColumn("__f", (ep - col("__h0")) / 3600.0)
      .withColumn(s"${valueCol}_interp",
        when(col("__v0").isNotNull && col("__v1").isNotNull,
          col("__v0") * (lit(1.0) - col("__f")) + col("__v1") * col("__f"))
          .otherwise(coalesce(col("__v0"), col("__v1"))))
      .drop("__h0", "__h1", "__v0", "__v1", "__f")
  }
}
