package graft.qpe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Phys

/** The composed QPE product pipeline — the reference's per-timestep compute
  * loop (qpe/qpe.py:329-762 `QPEProcessor.compute`) as one API a user
  * drives end to end:
  *
  *   distributed: polar gates → SNR mask (F4) → dB→linear (F1) → visibility
  *   correction (F3) → gate→cell join (J5) → weighted cell accumulation (A9);
  *   driver kernels on the collected 1.8 MB grid: 7×7 outlier removal (W4)
  *   → Gaussian σ=0.5 smoothing (W5) → validity-floor clamp (P11);
  *   sinks: ODIM grid (S12), palette GIF (S13), raw DN bytes.
  *
  * Stage split. The reference loads its lookup tables once and re-runs the
  * compute every 5 minutes against them; here the LUT is likewise
  * partitioned by cell once per session ([[lutByCell]]) and the slot's
  * corrected gates, the small side, are broadcast into it. The join's
  * output is already partitioned by cell, so a slot runs one stage of
  * grid work (after the gate broadcast) and no shuffle. The 2-D image
  * kernels run on the driver because a shuffle for a 1.8 MB array is pure
  * overhead (SURVEY §7.3); they loop over preallocated arrays, with no
  * per-cell allocation.
  */
object Qpe {

  final case class Config(
      snrThreshold: Double = 3.0,
      minVisib: Double = 37.0,
      maxVisibCorr: Double = 2.0,
      outlierK: Int = 3,
      outlierZ: Double = 3.0,
      gaussianSigma: Double = 0.5,
      minValid: Double = 0.04, // MIN_RZC_VALID, constants.py:296
      nx: Int = Grid.NX,
      ny: Int = Grid.NY)

  /** Distributed stage: corrected linear reflectivity accumulated into
    * Cartesian cells. `polar` needs (sweep, az_idx, rng_idx, zh, noise,
    * visib, w); `lut` maps gates to (chx, chy). The corrected gates are
    * broadcast into [[lutByCell]], so the A9 groupBy needs no shuffle.
    */
  def gridStage(polar: DataFrame, lut: DataFrame, cfg: Config = Config()): DataFrame = {
    val masked = Phys.snrMask(col("zh"), col("noise"), cfg.snrThreshold)
    val corrected = Phys.visibCorrect(
      Phys.dbToLin(masked), col("visib"), cfg.minVisib, cfg.maxVisibCorr)
    // A9's decimal terms once per gate, before the broadcast: a gate joins
    // several cells, and the casts are most of the grid stage's CPU
    val gates = Grid.contribTerms(polar
      .select(col("sweep"), col("az_idx"), col("rng_idx"), corrected.as("v"), col("w"))
      .filter(col("v").isNotNull))
    Grid.cellValues(
      lutByCell(lut).join(broadcast(gates), Seq("sweep", "az_idx", "rng_idx"))
        .select(col("chx"), col("chy"), col("vw_dec"), col("w_dec")))
  }

  /** `lut` hash-partitioned by cell into the session's
    * `spark.sql.shuffle.partitions` partitions and persisted on first use.
    * A LUT is static for a session: every later call builds the same plan,
    * which Spark's CacheManager resolves to the persisted copy, so the
    * repartition runs once and later slots read it without an exchange.
    * A copy whose blocks `Core.releaseTransientBlocks` dropped is persisted
    * again by the next slot. A LUT that changes under the same plan (files
    * rewritten in place) is read from the stale copy until `lut.unpersist()`
    * drops it.
    */
  private def lutByCell(lut: DataFrame): DataFrame =
    graft.Core.persistLive(lut.repartition(col("chx"), col("chy")))

  /** Driver kernel stage: collected grid → outlier removal → smoothing →
    * validity clamp. Returns the final product grid.
    */
  def kernelStage(cells: DataFrame, cfg: Config = Config()): Array[Array[Double]] = {
    val grid = Grid.collectGrid(cells, cfg.nx, cfg.ny)
    val cleaned = Grid.outlierRemoval(grid, cfg.outlierK, cfg.outlierZ)
    val smoothed = Grid.gaussianSmooth(cleaned, cfg.gaussianSigma)
    clampValid(smoothed, cfg.minValid)
    smoothed
  }

  /** P11 validity floor, in place: finite values below `minValid` become 0. */
  def clampValid(grid: Array[Array[Double]], minValid: Double): Unit = {
    var x = 0
    while (x < grid.length) {
      val row = grid(x)
      var y = 0
      while (y < row.length) {
        val v = row(y)
        if (!v.isNaN && v < minValid) row(y) = 0.0
        y += 1
      }
      x += 1
    }
  }

  /** Product writes for one timestep: ODIM grid + palette GIF (the
    * reference's DATA_FORMAT float→ODIM and DN→gif paths, qpe.py:276-308).
    * `quality` is the completeness string (streaming RT.quality or "ADLPW").
    * Returns the written paths.
    */
  def writeProducts(grid: Array[Array[Double]], outDir: String, tEnd: Long,
                    quality: String): Seq[String] = {
    val meta = Odim.chMetaFromQuality(tEnd, quality)
    val odimPath = s"$outDir/qpe_$tEnd.h5"
    val gifPath = s"$outDir/qpe_$tEnd.gif"
    Odim.write(odimPath, grid, meta)
    Gif.saveGif(gifPath, grid)
    Seq(odimPath, gifPath)
  }

  /** The full per-timestep compute: one call from polar gates to product
    * files, composing the three stages above.
    */
  def compute(polar: DataFrame, lut: DataFrame, outDir: String, tEnd: Long,
              quality: String = "ADLPW",
              cfg: Config = Config()): Array[Array[Double]] = {
    val grid = kernelStage(gridStage(polar, lut, cfg), cfg)
    writeProducts(grid, outDir, tEnd, quality)
    grid
  }
}
