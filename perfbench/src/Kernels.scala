package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{ArrayCosine, ArrayDot, NfcNormalize, PqEncode, SearchSorted}

/** Throughput of the native expression kernels on their own: each runs over
  * cached, benchmark-generated rows written to the noop sink, so scan and
  * output cost stay out. Reported in million rows per second (median of 3). */
object Kernels {
  val Rows = 200000
  val Dim = 64

  def rates(spark: SparkSession): Map[String, Double] = {
    val r = new scala.util.Random(7)
    val codebook = Array.fill(64, Dim)(r.nextGaussian())
    val vec = (s: Int) => array((0 until Dim).map(i => (rand(s * 1000 + i) - 0.5).cast("float")): _*)
    val input = spark.range(Rows).select(
        vec(1).as("a"), vec(2).as("b"),
        // decomposed accents, so the normalizer does real work
        concat(lit("café résumé "), col("id").cast("string")).as("text"),
        array((0 until 100).map(i => lit(i * 10.0)): _*).as("bounds"),
        (rand(3) * 1000).as("x"))
      .cache()
    input.count()
    def rate(c: Column): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        input.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Rows / 1e6 / times(1)
    }
    val out = Map(
      "kernel.array_cosine_mrows_s" -> rate(ArrayCosine.arrayCosine(col("a"), col("b"))),
      "kernel.array_dot_mrows_s" -> rate(ArrayDot.arrayDot(col("a"), col("b"))),
      "kernel.pq_encode_mrows_s" -> rate(PqEncode.pqEncode(col("a"), codebook, 8)),
      "kernel.nfc_normalize_mrows_s" -> rate(NfcNormalize.nfcNormalize(col("text"))),
      "kernel.search_sorted_mrows_s" -> rate(SearchSorted.searchsorted(col("bounds"), col("x"))))
    input.unpersist(blocking = true)
    out
  }
}
