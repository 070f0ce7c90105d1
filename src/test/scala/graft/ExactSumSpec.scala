package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dsum, dsum14, dsum2, dsum6, dsumOver}

/** The exact-sum contract: what Spark returns for [[Ora]]'s sums on edge
  * inputs, pinned as literals, in 1 and in 4 partitions. A faster
  * accumulator behind these helpers must reproduce every line.
  */
class ExactSumSpec extends SparkSpec {

  private def rows(xs: java.lang.Double*): Seq[DataFrame] = {
    val d = df("id INT, v DOUBLE", xs.zipWithIndex.map { case (x, i) => R(i, x) })
    Seq(d.repartition(1), d.repartition(4))
  }

  /** The sum's raw double bits (so −0.0 is told from 0.0), or None for NULL. */
  private def agg(d: DataFrame, sum: Column => Column): Option[Long] = {
    val r = d.agg(sum(col("v"))).collect().head
    if (r.isNullAt(0)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
  }

  private def bits(x: Double): Option[Long] = Some(java.lang.Double.doubleToRawLongBits(x))

  private val sums: Seq[(String, Column => Column)] =
    Seq("dsum" -> dsum, "dsum6" -> dsum6, "dsum2" -> dsum2)

  private def pin(inputs: Seq[java.lang.Double], expected: (String, Option[Long])*): Unit =
    for (d <- rows(inputs: _*); (name, expect) <- expected)
      assert(agg(d, sums.toMap.apply(name)) == expect,
        s"$name over $inputs in ${d.rdd.getNumPartitions} partitions")

  private def assertOutOfRange(e: Exception, what: String): Unit = {
    assert(e.getClass.getName == "org.apache.spark.SparkArithmeticException", s"$what: $e")
    assert(e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"), s"$what: $e")
  }

  private def all3(x: Option[Long]): Seq[(String, Option[Long])] = sums.map(_._1 -> x)

  test("NaN and ±Infinity cast to NULL and drop out of the sum; all-NULL sums to NULL") {
    pin(Seq(1.5, Double.NaN, 2.25), all3(bits(3.75)): _*)
    pin(Seq(1.0, Double.PositiveInfinity), all3(bits(1.0)): _*)
    pin(Seq(Double.NegativeInfinity), all3(None): _*)
    pin(Seq(null, null), all3(None): _*)
    pin(Seq(null, 2.5), all3(bits(2.5)): _*)
  }

  test("−0.0 sums to +0.0") {
    pin(Seq(-0.0), all3(bits(0.0)): _*)
  }

  test("the 11th decimal place rounds half away from zero in every term") {
    pin(Seq(5e-11, 5e-11), "dsum" -> bits(2.0e-10), "dsum6" -> bits(0.0), "dsum2" -> bits(0.0))
    pin(Seq(-5e-11, -5e-11), "dsum" -> bits(-2.0e-10), "dsum6" -> bits(0.0), "dsum2" -> bits(0.0))
    pin(Seq(4.9e-11, 4.9e-11), all3(bits(0.0)): _*)
    pin(Seq(1.00000000005), "dsum" -> bits(1.0000000001), "dsum6" -> bits(1.0), "dsum2" -> bits(1.0))
  }

  test("17 integer digits fit decimal(27,10); 10^17 throws under ANSI") {
    pin(Seq(9.999999999999998e16, 9.999999999999998e16), all3(bits(1.99999999999999968e17)): _*)
    for (d <- rows(1e17); (name, sum) <- sums) {
      assertOutOfRange(intercept[Exception](agg(d, sum)), name)
    }
  }

  test("the result does not depend on partitioning or on absorbed terms") {
    val xs = Seq[java.lang.Double](1e16, 0.1, -1e16) ++ Seq.fill[java.lang.Double](7)(0.1)
    pin(xs, all3(bits(0.8)): _*)
    // the double sum in row order loses the 0.1 that 1e16 absorbs
    assert(agg(rows(xs: _*).head, sum(_)) == bits(0.7))
  }

  test("dsumOver: a running exact sum, NULL until the first finite value") {
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, 0)
    def running(xs: java.lang.Double*): Seq[Seq[Any]] = rows(xs: _*).map(
      _.select(col("id"), dsumOver(col("v"), w)).orderBy("id").collect().map(_.get(1)).toSeq)
    def both(expected: Any*): Seq[Seq[Any]] = Seq(expected, expected)
    assert(running(1.5, Double.NaN, 2.25) == both(1.5, 1.5, 3.75))
    assert(running(null, 2.5) == both(null, 2.5))
    assert(running(5e-11, 5e-11) == both(1.0e-10, 2.0e-10))
    assert(running(9.999999999999998e16, 9.999999999999998e16) ==
      both(9.9999999999999984e16, 1.99999999999999968e17))
    assert(running(Seq[java.lang.Double](1e16, 0.1, -1e16) ++ Seq.fill[java.lang.Double](7)(0.1): _*) ==
      both(1.0e16, 1.0e16, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8))
    assertOutOfRange(intercept[Exception](running(1e17)), "dsumOver")
  }

  test("dsum14: weighted terms keep 14 decimals and 18 integer digits") {
    val wd = df("v DOUBLE, w DOUBLE", Seq(R(0.123456, 0.654321), R(1.000001, 0.000001), R(2.5, 0.5)))
    for (d <- Seq(wd.repartition(1), wd.repartition(4))) {
      val r = d.agg(dsum14(col("v") * col("w")) / dsum14(col("w")),
        dsum(col("v") * col("w")) / dsum(col("w"))).collect().head
      assert(r.getDouble(0) == 1.1528679635119143)
      assert(r.getDouble(1) == 1.1528679635318395) // 10 decimals round the products
    }
    for (d <- rows(5e-11, 5e-11)) assert(agg(d, dsum14) == bits(1.0e-10))
    for (d <- rows(1e17)) assert(agg(d, dsum14) == bits(1.0e17))
  }
}
