package graft

import graft.qpe.{Grid, Qpe}

/** The driver kernels on edge-shaped grids: smaller than the 7×7 outlier
  * window and the Gaussian taps (1×1, 2×9, 9×2), all NaN, and NaN holes on
  * all four borders. The expected values were computed by the boxed
  * `Array.tabulate` implementation these kernels replaced and are pinned
  * bit for bit (`java.lang.Double.compare`, so NaN and -0.0 are exact too).
  */
class QpeKernelEdgeSpec extends SparkSpec {

  private val N = Double.NaN

  private final case class Expected(
      outlier: Array[Array[Double]],   // outlierRemoval(k = 1, zmax = 1.5)
      smooth: Array[Array[Double]],    // gaussianSmooth(sigma = 0.5)
      chain: Array[Array[Double]])     // kernelStage, default Config

  private val expected: Map[String, Expected] = Map(
    "1x1" -> Expected(
      outlier = Array(
        Array(2.5)),
      smooth = Array(
        Array(2.5)),
      chain = Array(
        Array(2.5))),
    "2x9" -> Expected(
      outlier = Array(
        Array(1.0, 1.125, 1.25, 1.375, 1.5, 1.625, 1.75, 1.875, 2.0),
        Array(1.25, 1.375, 1.5, 1.625, 8.0, 1.875, 2.0, 2.125, 2.25)),
      smooth = Array(
        Array(1.0447705411865382, 1.154866714187003, 1.2810038264552621, 1.8901642779621852, 5.116179211038748, 2.140164277962185, 1.7810038264552623, 1.9047347468240552, 2.01483091982452),
        Array(1.2351690801754796, 1.3452652531759444, 1.4790890129594416, 5.18157775002769, 28.220151054152087, 5.431577750027689, 1.9790890129594414, 2.095133285812996, 2.2052294588134616)),
      chain = Array(
        Array(1.0447705411865382, 1.154866714187003, 1.2798827342444001, 1.4378833999400165, 1.7742504308593343, 1.6878833999400167, 1.7798827342444001, 1.9047347468240552, 2.01483091982452),
        Array(1.2351690801754796, 1.3452652531759444, 1.470805199721308, 1.8396489698482756, 3.526451818775522, 2.0896489698482754, 1.9708051997213079, 2.095133285812996, 2.2052294588134616))),
    "9x2" -> Expected(
      outlier = Array(
        Array(3.0, 3.5),
        Array(2.8, 3.3),
        Array(2.6, 3.1),
        Array(2.4, 2.9),
        Array(2.2, 2.7),
        Array(2.0, 2.5),
        Array(1.7516666666666667, 2.3),
        Array(1.5999999999999999, 2.0999999999999996),
        Array(1.4, 1.9)),
      smooth = Array(
        Array(3.0356497639214437, 3.416446841899327),
        Array(2.8594958871206995, 3.240292965098582),
        Array(2.659601461011058, 3.0403985389889407),
        Array(2.4596014610110584, 2.8403985389889406),
        Array(2.2591854442580575, 2.6403422372438423),
        Array(1.891768324274994, 2.4176847938922768),
        Array(0.6194729984087805, 2.0725654022528768),
        Array(1.4918296011724117, 2.017784372836548),
        Array(1.483087442697445, 1.864287208352552)),
      chain = Array(
        Array(3.0356497639214437, 3.416446841899327),
        Array(2.8594958871206995, 3.240292965098582),
        Array(2.659601461011058, 3.0403985389889407),
        Array(2.4596014610110584, 2.8403985389889406),
        Array(2.2591854442580575, 2.6403422372438423),
        Array(1.891768324274994, 2.4176847938922768),
        Array(0.6194729984087805, 2.0725654022528768),
        Array(1.4918296011724117, 2.017784372836548),
        Array(1.483087442697445, 1.864287208352552))),
    "border-holes" -> Expected(
      outlier = Array(
        Array(N, 1.006, 1.2, 1.4, N, 1.1, 0.9, 0.02),
        Array(1.0, 1.3, 1.5, 1.6, 1.4, 1.2, 1.0, N),
        Array(0.8, 1.1, 1.9, 8.122222222222222, 1.7, 1.3, 1.1, 0.9),
        Array(N, 1.0, 1.6, 1.8, 1.6, 1.1705555555555553, 1.2, 1.0),
        Array(0.7, 0.9, 1.3, 1.5, 1.4, 1.2, 1.0, N),
        Array(0.6, 0.8, 1.0, 1.2, 1.1, 1.0, 0.9, 0.7),
        Array(0.01, N, 0.9, N, 1.0, 0.96, N, 0.5)),
      smooth = Array(
        Array(N, 0.30766937543258305, 1.14552074347271, 1.4162297614993549, N, 1.0879241741990915, 0.8383070225050122, 0.1268771294387811),
        Array(0.9962466107105672, 1.1664530581034962, 2.1406138330344686, 6.447262345050575, 2.0877460749244428, 1.2053178521985775, 1.0239721134201007, N),
        Array(0.8582420458064374, 1.168176462011871, 6.616923984418092, 37.77820723744311, 6.489761349136079, 1.214487354562898, 1.0858456505720326, 0.9341635883929207),
        Array(N, 1.0735587164411797, 2.2135230757256745, 6.603501179201329, 2.129745102179362, 0.5272962115057539, 1.0558542966192581, 1.009232511891484),
        Array(0.7133736092472301, 0.9202182993877597, 1.2802626559309411, 1.478803368800134, 1.3669992906912798, 1.0856982104183897, 1.0160225088550396, N),
        Array(0.5794313394600883, 0.806264842625427, 1.0218872711974762, 1.2007339065509923, 1.1205815053170578, 1.0033354731574307, 0.896300681507995, 0.7044444540509773),
        Array(0.08079161773968795, N, 0.9117896921770402, N, 0.9895919394012557, 0.8462764959672917, N, 0.5239412267052169)),
      chain = Array(
        Array(N, 0.30766437147152076, 1.1437164786507656, 1.4013175686751245, N, 1.087919171715699, 0.8383070225050122, 0.1268771294387811),
        Array(0.9962466107105672, 1.1648413348594544, 1.4905698384300017, 1.6440508021451967, 1.437702080319976, 1.2037061289545357, 1.0239721134201007, N),
        Array(0.8582420458064374, 1.1562704909449053, 1.8149798413238862, 2.296372580188562, 1.6878172060418717, 1.2025845250659728, 1.0858456505720326, 0.9341635883929207),
        Array(N, 1.0717554037842085, 1.5634790811212078, 1.801557036107122, 1.4798726314873145, 0.5256853387044705, 1.0558542966192581, 1.009232511891484),
        Array(0.7133736092472301, 0.9202143043252604, 1.2786513579643863, 1.4668973977331683, 1.365387992724725, 1.0856942153558904, 1.0160225088550396, N),
        Array(0.5794313394600883, 0.806264842625427, 1.0218872711974762, 1.2007339065509923, 1.1205815053170578, 1.0033354731574307, 0.896300681507995, 0.7044444540509773),
        Array(0.08079161773968795, N, 0.9117896921770402, N, 0.9895919394012557, 0.8462764959672917, N, 0.5239412267052169))))

  private def assertBits(got: Array[Array[Double]], want: Array[Array[Double]], what: String): Unit = {
    assert(got.length == want.length && got.indices.forall(x => got(x).length == want(x).length),
      s"$what: shape")
    for (x <- want.indices; y <- want(x).indices)
      assert(java.lang.Double.compare(got(x)(y), want(x)(y)) == 0,
        s"$what ($x,$y): ${got(x)(y)} vs ${want(x)(y)}")
  }

  private def cells(grid: Array[Array[Double]]) = {
    import spark.implicits._
    (for (x <- grid.indices; y <- grid(x).indices if !grid(x)(y).isNaN)
      yield (x, y, grid(x)(y))).toDF("chx", "chy", "value")
  }

  for ((name, grid) <- QpeFixtures.EdgeGrids) {
    test(s"$name: outlier removal, smoothing and the kernel chain match the pinned values") {
      val e = expected(name)
      val input = grid.map(_.clone())
      assertBits(Grid.outlierRemoval(grid, 1, 1.5), e.outlier, s"$name outlierRemoval")
      assertBits(Grid.gaussianSmooth(grid, 0.5), e.smooth, s"$name gaussianSmooth")
      assertBits(grid, input, s"$name input untouched")
      assertBits(Qpe.kernelStage(cells(grid), Qpe.Config(nx = grid.length, ny = grid(0).length)),
        e.chain, s"$name kernelStage")
    }
  }

  test("validity clamp: finite values under the floor become 0, NaN stays NaN") {
    val smooth = expected("border-holes").smooth
    val clamped = smooth.map(_.clone())
    Qpe.clampValid(clamped, 0.31)
    assertBits(clamped, smooth.map(_.map(v => if (!v.isNaN && v < 0.31) 0.0 else v)), "clamp")
    assert(clamped.flatten.count(_ == 0.0) == 3)
    val tiny = Array(Array(-0.0, 0.04, 0.039999, N))
    Qpe.clampValid(tiny, 0.04)
    assertBits(tiny, Array(Array(0.0, 0.04, 0.0, N)), "clamp at the default floor")
  }

  test("all-NaN grid: every kernel and the chain return an all-NaN grid") {
    val grid = Array.fill(6, 7)(N)
    val allNaN = Array.fill(6, 7)(N)
    assertBits(Grid.outlierRemoval(grid), allNaN, "outlierRemoval")
    assertBits(Grid.gaussianSmooth(grid), allNaN, "gaussianSmooth")
    val clamped = grid.map(_.clone())
    Qpe.clampValid(clamped, 0.04)
    assertBits(clamped, allNaN, "clamp")
    assertBits(Qpe.kernelStage(cells(grid), Qpe.Config(nx = 6, ny = 7)), allNaN, "kernelStage")
  }
}
