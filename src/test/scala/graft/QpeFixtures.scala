package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.qpe.Qpe

/** Fixed synthetic QPE inputs shared by the golden-product, plan-shape and
  * release specs: five radars on a 48×53 grid, each radar one sweep (its
  * id names the radar) of 90 azimuth × 20 range gates, and the LUT from
  * every covered cell to its radar's gate. Deterministic (no RNG): storm
  * cores, ground clutter (isolated +25 dB gates the outlier filter must
  * remove), SNR-masked gates, a beam-blocked sector and light rain that
  * falls under the validity floor all come from closed forms of the gate
  * index. `EdgeGrids` are the small grids the kernel edge spec runs on.
  */
object QpeFixtures {

  val NX = 48
  val NY = 53
  val Cfg: Qpe.Config = Qpe.Config(nx = NX, ny = NY)
  val Sites: Seq[(Double, Double)] = Seq((12.0, 14.0), (34.0, 10.0), (24.0, 27.0), (10.0, 41.0), (38.0, 43.0))
  val NAz = 90
  val NRng = 20
  val Gate = 1.5
  val Range: Double = NRng * Gate

  private def azIdx(dx: Double, dy: Double): Int = {
    val deg = math.toDegrees(math.atan2(dy, dx))
    (((deg % 360) + 360) % 360 / (360.0 / NAz)).toInt % NAz
  }

  /** (sweep, az_idx, rng_idx, chx, chy) for every cell inside a radar's range. */
  def lutRows: Seq[(Int, Int, Int, Int, Int)] = for {
    (site, r) <- Sites.zipWithIndex
    x <- 0 until NX
    y <- 0 until NY
    dx = x + 0.5 - site._1
    dy = y + 0.5 - site._2
    dist = math.hypot(dx, dy)
    if dist < Range
  } yield (r + 1, azIdx(dx, dy), (dist / Gate).toInt, x, y)

  /** One radar's gates: (sweep, az_idx, rng_idx, zh, noise, visib, w). */
  def gateRows(r: Int): Seq[(Int, Int, Int, Double, Double, Double, Double)] = for {
    az <- 0 until NAz
    rg <- 0 until NRng
  } yield {
    val th = math.toRadians((az + 0.5) * 360.0 / NAz)
    val x = Sites(r)._1 + (rg + 0.5) * Gate * math.cos(th)
    val y = Sites(r)._2 + (rg + 0.5) * Gate * math.sin(th)
    val storm = 38.0 * math.exp(-((x - 20) * (x - 20) + (y - 22) * (y - 22)) / 60.0) +
      30.0 * math.exp(-((x - 36) * (x - 36) + (y - 40) * (y - 40)) / 30.0)
    val ripple = 1.5 * math.sin(az * 1.7 + rg * 0.9 + r)
    val clutter = if ((az * 7 + rg * 13 + r * 5) % 97 == 0) 25.0 else 0.0
    val zh = math.rint((-15.0 + storm + ripple + clutter) * 1000) / 1000
    val noise = -22.0 + 0.5 * rg + (if (rg >= 17) 30.0 else 0.0)
    val visib = if (az >= 10 * r && az < 10 * r + 6) 20.0 + 12.0 * (az - 10 * r) else 100.0
    (r + 1, az, rg, zh, noise, visib, 1.0 / (1.0 + rg * Gate / 20.0))
  }

  def lut(spark: SparkSession): DataFrame = {
    import spark.implicits._
    lutRows.toDF("sweep", "az_idx", "rng_idx", "chx", "chy").repartition(4)
  }

  def polar(spark: SparkSession, radars: Seq[Int]): DataFrame = {
    import spark.implicits._
    radars.flatMap(gateRows).toDF("sweep", "az_idx", "rng_idx", "zh", "noise", "visib", "w")
  }

  private val N = Double.NaN

  /** Grids smaller than the 7×7 outlier window and the σ=0.5 taps, and a
    * 7×8 grid with NaN holes on all four borders, a spike and values
    * below the validity floor. */
  val EdgeGrids: Seq[(String, Array[Array[Double]])] = Seq(
    "1x1" -> Array(Array(2.5)),
    "2x9" -> Array.tabulate(2, 9)((x, y) => if (x == 1 && y == 4) 40.0 else 1.0 + 0.25 * x + 0.125 * y),
    "9x2" -> Array.tabulate(9, 2)((x, y) => if (x == 6 && y == 0) 0.01 else 3.0 - 0.2 * x + 0.5 * y),
    "border-holes" -> Array(
      Array(N, 0.03, 1.2, 1.4, N, 1.1, 0.9, 0.02),
      Array(1.0, 1.3, 1.5, 1.6, 1.4, 1.2, 1.0, N),
      Array(0.8, 1.1, 1.9, 60.0, 1.7, 1.3, 1.1, 0.9),
      Array(N, 1.0, 1.6, 1.8, 1.6, 0.035, 1.2, 1.0),
      Array(0.7, 0.9, 1.3, 1.5, 1.4, 1.2, 1.0, N),
      Array(0.6, 0.8, 1.0, 1.2, 1.1, 1.0, 0.9, 0.7),
      Array(0.01, N, 0.9, N, 1.0, 0.8, N, 0.5)))

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  /** SHA-256 of the grid's raw IEEE-754 bits, row-major, big-endian. */
  def gridSha(grid: Array[Array[Double]]): String = {
    val buf = ByteBuffer.allocate(grid.map(_.length).sum * 8)
    grid.foreach(_.foreach(v => buf.putLong(java.lang.Double.doubleToRawLongBits(v))))
    sha256(buf.array())
  }
}
