package graft.qpe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ora.dec14

/** Gridded QPE pipeline (SURVEY.md §3.3, §7.1 step 5).
  *
  * Everything up to the per-cell weighted feature accumulation is distributed
  * DataFrame work (the J5/J6 LUT joins + the A9 groupBy). [[lutJoin]]
  * broadcasts the LUT for a one-shot gather; the QPE slot
  * (`Qpe.gridStage`) instead broadcasts its gates into the LUT partitioned
  * by cell once per session, so A9's per-cell half ([[cellValues]]) runs
  * there without a shuffle. The final 640×710 grid (454,400 cells ≈ 1.8 MB) is collected
  * and post-processed on the driver with 2-D image kernels that write into
  * preallocated arrays — deliberately NOT distributed (SURVEY §7.3: a
  * shuffle for a 1.8 MB array is pure overhead).
  */
object Grid {

  val NX = 640
  val NY = 710

  /** J5: polar→Cartesian LUT join — polar gate rows joined to the broadcast
    * LUT on (sweep, az_idx, rng_idx), projecting Cartesian cell indices
    * (reference: qpe/qpe.py:579-598; lookup table format lookup.py:44-46).
    */
  def lutJoin(polar: DataFrame, lut: DataFrame): DataFrame =
    polar.join(broadcast(lut), Seq("sweep", "az_idx", "rng_idx"))

  /** A9: weighted accumulation of per-sweep/per-radar contributions into
    * grid cells, then the final Σ(v·w)/Σw (reference: qpe/qpe.py:613-656,
    * 670-676). One shuffle on the cell key, unless `contribs` is already
    * partitioned by it. The composition of [[contribTerms]] (per
    * contribution) and [[cellValues]] (per cell), so a caller whose
    * contributions fan out to several cells can apply the terms before
    * the fan-out.
    */
  def accumulate(contribs: DataFrame): DataFrame = cellValues(contribTerms(contribs))

  /** A9's per-contribution half: drops invalid contributions and replaces
    * `v`, `w` with the decimal terms [[cellValues]] sums, `vw_dec` and
    * `w_dec`; every other column passes through.
    */
  def contribTerms(contribs: DataFrame): DataFrame = {
    // invalid (NULL/NaN) contributions are dropped from BOTH sums up front:
    // the decimal accumulator turns NaN into NULL, so without this filter a
    // NaN gate would vanish from the numerator while its weight still
    // inflated the denominator — a silent low bias instead of the
    // reference's masked-gate semantics (masked gates contribute nothing;
    // a cell with no valid contribution disappears, = NaN in collectGrid)
    val valid = col("v").isNotNull && !isnan(col("v").cast("double")) &&
      col("w").isNotNull && !isnan(col("w").cast("double"))
    val rest = contribs.columns.filterNot(c => c == "v" || c == "w").map(col).toSeq
    contribs.filter(valid).select(rest ++ Seq(
      dec14(col("v") * col("w")).as("vw_dec"), dec14(col("w")).as("w_dec")): _*)
  }

  /** A9's per-cell half over [[contribTerms]] rows: (chx, chy, value). */
  def cellValues(terms: DataFrame): DataFrame =
    // sums round in DECIMAL space (6 dp) before the double cast — the
    // dsum6 rule: a raw scale-14 sum's unscaled value passes 2^53 once the
    // sum exceeds ~90 and DuckDB's decimal→double cast double-rounds there
    // (last-ulp j5 mismatches at sf0.1); the ratio then divides the same
    // exactly-representable operands on both engines
    terms.groupBy(col("chx"), col("chy"))
      .agg(round(sum(col("vw_dec")), 6).cast("double").as("sum_vw"),
           round(sum(col("w_dec")), 6).cast("double").as("sum_w"))
      .withColumn("value", col("sum_vw") / col("sum_w"))
      .select("chx", "chy", "value")

  /** Collect a (chx, chy, value) cell DataFrame into a dense driver-side
    * grid. Missing cells are NaN (the reference's masked cells).
    */
  def collectGrid(cells: DataFrame, nx: Int = NX, ny: Int = NY): Array[Array[Double]] = {
    val grid = Array.ofDim[Double](nx, ny)
    grid.foreach(java.util.Arrays.fill(_, Double.NaN))
    // degenerate NULL values (decimal-sum overflow) stay NaN cells instead
    // of reaching the positional getters
    val rows = cells.select(col("chx").cast("int"), col("chy").cast("int"),
        col("value").cast("double"))
      .filter(col("value").isNotNull)
      .collect()
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val x = r.getInt(0); val y = r.getInt(1)
      if (x >= 0 && x < nx && y >= 0 && y < ny) grid(x)(y) = r.getDouble(2)
      i += 1
    }
    grid
  }

  /** Dense grid back to a DataFrame for relational post-steps / sinks. */
  def gridToDF(spark: SparkSession, grid: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val rows = for {
      x <- grid.indices
      y <- grid(x).indices
      if !grid(x)(y).isNaN
    } yield (x, y, grid(x)(y))
    rows.toDF("chx", "chy", "value")
  }

  /** S12/S13: raw DN byte sink — encode each cell through the sorted scale
    * (numpy searchsorted semantics, reference: qpe/qpe.py:273-287 float→DN
    * via searchsorted(SCALE_CPC); io_data.py:231-259), write row-major bytes;
    * NaN cells encode as 0. Driver-side on the collected grid, like the
    * reference's writer.
    */
  def writeRawDN(grid: Array[Array[Double]], scale: Array[Double],
                 path: String): Unit = {
    val ny = grid(0).length
    val bytes = new Array[Byte](grid.length * ny)
    var i = 0
    grid.foreach { row =>
      row.foreach { v =>
        bytes(i) = if (v.isNaN) 0 else {
          var lo = 0; var hi = scale.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (scale(mid) <= v) lo = mid + 1 else hi = mid
          }
          math.min(lo, 255).toByte
        }
        i += 1
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  /** S8/S12 read side: decode a raw DN byte file back to a grid. */
  def readRawDN(path: String, nx: Int, ny: Int, scale: Array[Double]): Array[Array[Double]] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length == nx * ny, s"expected ${nx * ny} bytes, got ${bytes.length}")
    Array.tabulate(nx, ny)((x, y) => {
      val dn = bytes(x * ny + y) & 0xff
      if (dn == 0) Double.NaN else scale(math.min(dn, scale.length) - 1)
    })
  }

  /** S9/W4 distributed variant: (2k+1)² neighborhood statistics via a
    * scatter join — each cell's value is contributed to all its neighbours
    * (explode over the offset grid), one groupBy computes the box mean/std
    * per cell (reference: io_data.py:97-114 wet-radome 3×3 RZC mean;
    * qpe_utils.py:233-268 7×7 outlier window). This is the pattern that
    * scales when the grid does NOT fit on the driver — cost (2k+1)²·|cells|
    * rows through one shuffle, no self-join explosion on dense regions.
    */
  def boxStats(cells: DataFrame, k: Int): DataFrame = {
    val off = lit((-k to k).toArray)
    cells
      .withColumn("dx", explode(off))
      .withColumn("dy", explode(off))
      .groupBy((col("chx") + col("dx")).as("chx"), (col("chy") + col("dy")).as("chy"))
      .agg(avg(col("value")).as("box_mean"),
           stddev_pop(col("value")).as("box_std"),
           count(col("value")).as("box_n"))
  }

  /** W4: moving-window outlier removal — replace cells whose z-score within a
    * (2k+1)² neighborhood exceeds `zmax` by the window mean
    * (reference: qpe/qpe_utils.py:233-268 outlier_removal, 7×7 box).
    * NaN-aware: missing neighbours are excluded from the moments.
    */
  def outlierRemoval(grid: Array[Array[Double]], k: Int = 3,
                     zmax: Double = 3.0): Array[Array[Double]] = {
    val nx = grid.length
    val ny = grid(0).length
    val out = grid.map(_.clone())
    var x = 0
    while (x < nx) {
      val iHi = math.min(nx - 1, x + k)
      var y = 0
      while (y < ny) {
        val v = grid(x)(y)
        if (!v.isNaN) {
          val jHi = math.min(ny - 1, y + k)
          var s = 0.0; var s2 = 0.0; var n = 0
          var i = math.max(0, x - k)
          while (i <= iHi) {
            val row = grid(i)
            var j = math.max(0, y - k)
            while (j <= jHi) {
              val w = row(j)
              if (!w.isNaN) { s += w; s2 += w * w; n += 1 }
              j += 1
            }
            i += 1
          }
          val mean = s / n
          val varr = math.max(s2 / n - mean * mean, 0.0)
          val std = math.sqrt(varr)
          if (std > 0 && math.abs(v - mean) / std >= zmax) out(x)(y) = mean
        }
        y += 1
      }
      x += 1
    }
    out
  }

  /** W5: Gaussian smoothing, separable kernel, NaN-aware renormalization
    * (reference: qpe/qpe.py:742-743, gaussian_filter σ=0.5).
    */
  def gaussianSmooth(grid: Array[Array[Double]], sigma: Double = 0.5): Array[Array[Double]] = {
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val kernel = Array.tabulate(2 * radius + 1)(i =>
      math.exp(-0.5 * math.pow((i - radius) / sigma, 2)))
    def pass(src: Array[Array[Double]], alongX: Boolean): Array[Array[Double]] = {
      val nx = src.length; val ny = src(0).length
      val out = Array.ofDim[Double](nx, ny)
      var x = 0
      while (x < nx) {
        var y = 0
        while (y < ny) {
          if (src(x)(y).isNaN) out(x)(y) = Double.NaN
          else {
            // the in-bounds taps, in ascending offset order
            val c = if (alongX) x else y
            var s = 0.0; var wsum = 0.0
            var d = math.max(-radius, -c)
            val dHi = math.min(radius, (if (alongX) nx else ny) - 1 - c)
            while (d <= dHi) {
              val u = if (alongX) src(x + d)(y) else src(x)(y + d)
              if (!u.isNaN) { val w = kernel(d + radius); s += w * u; wsum += w }
              d += 1
            }
            out(x)(y) = s / wsum
          }
          y += 1
        }
        x += 1
      }
      out
    }
    pass(pass(grid, alongX = true), alongX = false)
  }

  /** W5 distributed variant: separable NaN-aware Gaussian smoothing over a
    * SPARSE cell relation — the scale path for [[gaussianSmooth]] when the
    * grid does not fit one node. Per axis pass: every present cell scatters
    * w(d)·v to the (2·radius+1) positions along the axis (one explode, one
    * groupBy — the boxStats shuffle shape), the per-position weighted sums
    * renormalize by the weights that actually arrived (absent/NaN
    * neighbours contribute nothing — exactly the dense kernel's NaN-aware
    * renormalization), and a semi join back to the input keeps values only
    * at originally-present positions (NaN cells stay NaN, boundary clip is
    * implicit). Cost per pass: (2·radius+1)·|cells| rows through one
    * shuffle; no dense materialization at any size.
    *
    * Determinism contract (the oracle's hash gate): tap weights are Scala
    * double literals embedded identically in the SQL mirror, products and
    * weight sums accumulate in DECIMAL (order-independent), and the
    * per-pass renormalization divides the two exact sums as doubles.
    */
  def gaussianSmoothCells(cells: DataFrame, sigma: Double = 0.5,
                          xCol: String = "chx", yCol: String = "chy",
                          vCol: String = "v"): DataFrame = {
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val taps = (-radius to radius).map(d =>
      d -> math.exp(-0.5 * math.pow(d / sigma, 2)))
    val tapCol = explode(array(taps.map { case (d, w) =>
      struct(lit(d).as("d"), lit(w).as("w")) }: _*)).as("t")
    // a NULL/NaN-valued ROW means "absent" exactly like a missing row: it
    // must contribute to neither sum AND stay NaN (= not appear) in the
    // output. Without this filter a NaN row's tap weight would inflate its
    // neighbours' denominators (the numerator product casts to NULL and is
    // skipped, the weight is not) and the NaN position itself would come
    // back finite.
    val present = cells.filter(col(vCol).isNotNull && !isnan(col(vCol)))
    // presence is decided INSIDE the same aggregation (a position is present
    // iff it received its own d=0 contribution) instead of a semi join back
    // to the input: the join formulation re-executed the whole upstream
    // lineage once per pass for the positions branch — three scans of the
    // cell source where this needs one, and two broadcast joins for free.
    def pass(df: DataFrame, onX: Boolean): DataFrame =
      df.select(col(xCol), col(yCol), col(vCol), tapCol)
        .select(
          (if (onX) col(xCol) + col("t.d") else col(xCol)).as(xCol),
          (if (onX) col(yCol) else col(yCol) + col("t.d")).as(yCol),
          dec14(col(vCol) * col("t.w")).as("wv"),
          col("t.w").cast("decimal(22,16)").as("w"),
          (col("t.d") === 0).cast("int").as("orig"))
        .groupBy(col(xCol), col(yCol))
        .agg((sum(col("wv")).cast("double") / sum(col("w")).cast("double")).as(vCol),
             max(col("orig")).as("__orig"))
        .filter(col("__orig") === 1).drop("__orig")
    pass(pass(present, onX = true), onX = false)
  }

  /** R7: block-matching optical flow between two consecutive grids — for
    * each block of `prev`, the (dx, dy) within ±search minimizing the sum of
    * squared differences against `curr` (the role pysteps Lucas-Kanade plays
    * in the reference's advection correction, qpe/qpe_utils.py:271-312;
    * driver-side on the 1.8 MB grids like the rest of the kernel stage).
    * Returns (flowX, flowY) per block, NaN-aware.
    */
  def blockFlow(prev: Array[Array[Double]], curr: Array[Array[Double]],
                block: Int = 16, search: Int = 4): (Array[Array[Int]], Array[Array[Int]]) = {
    val nx = prev.length; val ny = prev(0).length
    val bx = nx / block; val by = ny / block
    val fx = Array.ofDim[Int](bx, by)
    val fy = Array.ofDim[Int](bx, by)
    for (i <- 0 until bx; j <- 0 until by) {
      var best = Double.MaxValue
      var bdx = 0; var bdy = 0
      for (dx <- -search to search; dy <- -search to search) {
        var ssd = 0.0; var n = 0
        var x = i * block
        while (x < (i + 1) * block) {
          var y = j * block
          while (y < (j + 1) * block) {
            val xs = x + dx; val ys = y + dy
            if (xs >= 0 && xs < nx && ys >= 0 && ys < ny) {
              val a = prev(x)(y); val b = curr(xs)(ys)
              if (!a.isNaN && !b.isNaN) { val d = a - b; ssd += d * d; n += 1 }
            }
            y += 1
          }
          x += 1
        }
        if (n > 0) {
          val score = ssd / n
          if (score < best - 1e-12) { best = score; bdx = dx; bdy = dy }
        }
      }
      fx(i)(j) = bdx; fy(i)(j) = bdy
    }
    (fx, fy)
  }

  /** R7: advect a grid by a fraction `t` ∈ [0,1] of the block flow — the
    * temporal-disaggregation shift between two 5-min products
    * (reference: qpe/qpe_utils.py:271-312 disaggregate).
    */
  def advect(grid: Array[Array[Double]], fx: Array[Array[Int]],
             fy: Array[Array[Int]], block: Int, t: Double): Array[Array[Double]] = {
    val nx = grid.length; val ny = grid(0).length
    val out = Array.fill(nx, ny)(Double.NaN)
    var x = 0
    while (x < nx) {
      var y = 0
      while (y < ny) {
        val bi = math.min(x / block, fx.length - 1)
        val bj = math.min(y / block, fx(0).length - 1)
        val xs = x + math.round(fx(bi)(bj) * t).toInt
        val ys = y + math.round(fy(bi)(bj) * t).toInt
        if (xs >= 0 && xs < nx && ys >= 0 && ys < ny) out(xs)(ys) = grid(x)(y)
        y += 1
      }
      x += 1
    }
    out
  }

  /** R7/F16: temporal disaggregation — scale the coarse estimate by the
    * instantaneous Z-R proxy ratio (reference: qpe/qpe.py:719-733).
    */
  def disaggregate(qpe: Array[Array[Double]], rproxyNow: Array[Array[Double]],
                   rproxyMean: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(qpe.length, qpe(0).length) { (x, y) =>
      val q = qpe(x)(y); val rn = rproxyNow(x)(y); val rm = rproxyMean(x)(y)
      if (q.isNaN || rn.isNaN || rm.isNaN || rm == 0.0) q else q * (rn / rm)
    }
}
