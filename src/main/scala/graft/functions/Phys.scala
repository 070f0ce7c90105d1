package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions (SURVEY.md §2.7) — all pure Column expressions so they
  * stay inside whole-stage codegen (no UDFs in the hot path).
  */
object Phys {

  /** F1: dB → linear, `10^(0.1·x)` (reference: ml/rf.py:359-365). */
  def dbToLin(c: Column): Column = pow(lit(10.0), c * 0.1)

  /** F2: linear → dB, `10·log10(x)` (reference: radarprocessing.py:171,182). */
  def linToDb(c: Column): Column = log10(c) * 10.0

  /** F3: visibility correction — `zlin · min(100/visib, maxCorr)`, masked
    * below minVisib (reference: radarprocessing.py:144-182 visib_mask).
    */
  def visibCorrect(zlin: Column, visib: Column, minVisib: Double, maxCorr: Double): Column =
    when(visib < minVisib, lit(null))
      .otherwise(zlin * least(lit(100.0) / visib, lit(maxCorr)))

  /** F4: SNR mask — null where `zh − noise < snrThreshold`
    * (reference: radarprocessing.py:116-142). A NULL noise floor (e.g.
    * [[noisedBZ]] at range ≤ 0, where no floor is defined) masks the gate:
    * a bare `when(zh - noise < thr)` would let the NULL comparison fall to
    * the otherwise branch and pass an un-SNR-checked gate through unmasked.
    *
    * Deliberate fidelity divergence from the reference at that degenerate
    * edge: numpy's compute_noisedBZ yields -inf at range 0 (log10(0)), snr
    * becomes +inf and the r=0 gate PASSES the reference's SNR check (only
    * NaN noise masks there). We mask instead — conservative, and mirrored
    * by the `f3_mask_chain` oracle — so an r≤0 gate never carries an
    * un-checked reflectivity. Not a bug when a fidelity audit diffs the two.
    */
  def snrMask(zh: Column, noise: Column, snrThreshold: Double): Column =
    when(noise.isNull || zh - noise < snrThreshold, lit(null)).otherwise(zh)

  /** F5: range-dependent noise floor in dBZ — the noise reference (dB, at
    * `refDistKm` from the radar) projected to each gate's range by the
    * radar-equation 20·log10(r/r_ref) spreading term
    * (reference: radarprocessing.py:210-216 compute_noisedBZ with
    * ref_dist=100 km; the pyart kernel is `noise_ref + 20·log10(km(r)/ref)`).
    * Gates at/inside 0 range are undefined → NULL (log of ≤0 would be an
    * ANSI error, and a zero-range gate has no meaningful noise floor).
    * Feed the result into [[snrMask]] as its `noise` column.
    */
  def noisedBZ(rangeM: Column, noiseRefDb: Column, refDistKm: Double = 100.0): Column =
    when(rangeM > 0.0,
      noiseRefDb + log10(rangeM / 1000.0 / refDistKm) * 20.0)

  /** F5 companion: noise reference in dBADU from the status file's frontend
    * noise power + receiver constant, `10·log10(power) + rconst`
    * (reference: radarprocessing.py:192-202).
    */
  def noiseDbAdu(noisePower: Column, rconst: Column): Column =
    linToDb(noisePower) + rconst

  /** F7: Kochendorfer catch-efficiency wind correction of gauge precipitation
    * (reference: retrieve_dwh_data.py:76-97): wind clamped to 9 m/s;
    * mixed regime (−2 ≤ T ≤ 2 °C) and solid regime (T < −2 °C) each have
    * CE = a·exp(−b·wind)+c; liquid precip is left unchanged (CE = 1);
    * adjusted = precip / CE.
    */
  def catchEfficiency(temp: Column, windRaw: Column): Column = {
    val wind = least(windRaw, lit(9.0))
    val mixed = lit(0.624) * exp(lit(-0.185) * wind) + lit(0.364)
    val solid = lit(0.865) * exp(lit(-0.298) * wind) + lit(0.225)
    when(temp < -2.0, solid).when(temp <= 2.0, mixed).otherwise(lit(1.0))
  }

  def windAdjustedPrecip(precip: Column, temp: Column, wind: Column): Column =
    precip / catchEfficiency(temp, wind)

  /** F8: mm per 10 min → mm/h (reference: ml/rf.py:452). */
  def toRate(c: Column): Column = c * 6.0

  /** F9: derived heights — `HISO = −T/0.7·100` (lapse rate,
    * constants.py:40) and height above ground clamped at 0
    * (reference: ml/rf.py:254-257).
    */
  def isoHeight(tempC: Column): Column = -tempC / 0.7 * 100.0
  def heightAboveGround(height: Column, stationAlt: Column): Column =
    greatest(lit(0.0), height - stationAlt)

  /** F14: nearest-cadence floor of an epoch-seconds timestamp
    * (reference: common/utils.py:586-611 nearest_time).
    */
  /** Domain contract: non-negative epochs (post-1970 timestamps — the
    * data's domain). `%` truncates toward zero, so a pre-1970 epoch would
    * round UP to the next boundary; both engines' mirrors share the same
    * truncation, so the contract is symmetric, but interpolation weights
    * built on it are only in [0,1] for ep >= 0.
    */
  def floorToCadence(epochS: Column, stepS: Long): Column = epochS - (epochS % stepS)

  /** F16: Z-R proxy rain rate, Marshall-Palmer-style inversion
    * `(zlin/A)^(1/B)` with A=316, B=1.5 (reference: qpe/qpe.py:720-733,
    * constants.py:107-108).
    */
  def zrProxy(zlin: Column, a: Double = 316.0, b: Double = 1.5): Column =
    pow(zlin / a, 1.0 / b)

  /** F17: planar station-to-radar distance in km
    * (reference: ml/rf.py:366-372 DIST_TO_RAD{A..W}).
    */
  def distKm(x: Column, y: Column, xr: Double, yr: Double): Column =
    sqrt(pow(x - xr, 2.0) + pow(y - yr, 2.0)) / 1000.0

  /** P11: threshold clamp — values below the validity floor snap to 0
    * (reference: retrieve_reference_data.py:325-326, constants.py:296
    * MIN_RZC_VALID = 0.04).
    */
  def clampBelow(c: Column, floor: Double): Column =
    when(c < floor, lit(0.0)).otherwise(c)

  /** F15: WGS84 → Swiss CH1903/LV03 approximate transform
    * (reference: common/wgs84_ch1903.py:4-105 — the published swisstopo
    * polynomial approximation; pure arithmetic, codegen-friendly).
    * Returns (east, north) in meters.
    */
  def wgs84ToCh1903(lonDeg: Column, latDeg: Column): (Column, Column) = {
    // auxiliary values: arc-seconds / 10000, centered on Bern
    val phi = (latDeg * 3600.0 - 169028.66) / 10000.0
    val lam = (lonDeg * 3600.0 - 26782.5) / 10000.0
    val east = lit(600072.37) +
      lit(211455.93) * lam -
      lit(10938.51) * lam * phi -
      lit(0.36) * lam * phi * phi -
      lit(44.54) * lam * lam * lam
    val north = lit(200147.07) +
      lit(308807.95) * phi +
      lit(3745.25) * lam * lam +
      lit(76.63) * phi * phi -
      lit(194.56) * lam * lam * phi +
      lit(119.79) * phi * phi * phi
    (east, north)
  }

  /** F15 inverse: Swiss CH1903/LV03 → WGS84 approximate transform
    * (reference: common/wgs84_ch1903.py:17-44 CHtoWGSlat/CHtoWGSlng — the
    * published swisstopo polynomial; pure arithmetic, codegen-friendly).
    * Returns (lonDeg, latDeg).
    */
  def ch1903ToWgs84(east: Column, north: Column): (Column, Column) = {
    // auxiliary values (% Bern), in units of 1e6 m
    val y = (east - 600000.0) / 1000000.0
    val x = (north - 200000.0) / 1000000.0
    val latSec10k = lit(16.9023892) +
      lit(3.238272) * x -
      lit(0.270978) * y * y -
      lit(0.002528) * x * x -
      lit(0.0447) * y * y * x -
      lit(0.0140) * x * x * x
    val lonSec10k = lit(2.6779094) +
      lit(4.728982) * y +
      lit(0.791484) * y * x +
      lit(0.1306) * y * x * x -
      lit(0.0436) * y * y * y
    // unit 10000" → degrees
    (lonSec10k * 10000.0 / 3600.0, latSec10k * 10000.0 / 3600.0)
  }

  /** F15: COSMO rotated-pole transform — geographic → rotated lat/lon for a
    * rotated system whose north pole sits at geographic (polLatDeg,
    * polLonDeg) (the standard NWP grid rotation; MeteoSwiss COSMO-1 uses
    * pollat=43°, pollon=−170°). Spherical rotation, no UDF.
    * Returns (rlonDeg, rlatDeg).
    */
  def geoToRotatedPole(lonDeg: Column, latDeg: Column,
                       polLatDeg: Double, polLonDeg: Double): (Column, Column) = {
    val sp = math.sin(math.toRadians(polLatDeg))
    val cp = math.cos(math.toRadians(polLatDeg))
    val lam = radians(lonDeg - polLonDeg)
    val phi = radians(latDeg)
    val zr = lit(cp) * cos(phi) * cos(lam) + lit(sp) * sin(phi)
    // COSMO sign convention: rlon measured from the meridian OPPOSITE the
    // geographic pole meridian (atan2 of the negated in-plane components)
    val yr = -cos(phi) * sin(lam)
    val xr = -(lit(sp) * cos(phi) * cos(lam) - lit(cp) * sin(phi))
    (degrees(atan2(yr, xr)), degrees(asin(zr)))
  }

  /** F15: rotated → geographic, exact inverse of [[geoToRotatedPole]].
    * Returns (lonDeg, latDeg).
    */
  def rotatedPoleToGeo(rlonDeg: Column, rlatDeg: Column,
                       polLatDeg: Double, polLonDeg: Double): (Column, Column) = {
    val sp = math.sin(math.toRadians(polLatDeg))
    val cp = math.cos(math.toRadians(polLatDeg))
    val rphi = radians(rlatDeg)
    val rlam = radians(rlonDeg)
    // undo the sign convention, then apply the transposed rotation
    val xr = -cos(rphi) * cos(rlam)
    val yr = -cos(rphi) * sin(rlam)
    val zr = sin(rphi)
    val a = lit(sp) * xr + lit(cp) * zr
    val c = -lit(cp) * xr + lit(sp) * zr
    val lonRaw = lit(polLonDeg) + degrees(atan2(yr, a))
    // normalize to (−180, 180]: pole offset + atan2 can leave the principal
    // range (e.g. −170 + −179.5 = −349.5). Double-% form is sign-safe and
    // identical in SQL mirrors (both engines' % keeps the dividend's sign).
    val lon = ((lonRaw + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    (lon, degrees(asin(c)))
  }

  /** O4: searchsorted against a small sorted boundary array — DN scale
    * encode/decode (reference: qpe/qpe.py:276 searchsorted(SCALE_CPC);
    * io_data.py:246). Generated as a static CASE chain over the broadcast
    * boundaries so it codegens; returns the number of boundaries ≤ value
    * (numpy side='right' semantics).
    */
  def searchSorted(c: Column, boundaries: Seq[Double]): Column =
    boundaries.map(b => when(c >= b, 1).otherwise(0)).reduce(_ + _)

  /** S8: DN byte → physical value decode through a 256-entry scale array
    * (reference: io_data.py:195-206 using SCALE_CPC, constants.py:133-183).
    * element_at over a literal array — no UDF, no shuffle.
    */
  def dnDecode(dn: Column, scale: Seq[Double]): Column =
    element_at(lit(scale.toArray), dn.cast("int") + 1)
}
