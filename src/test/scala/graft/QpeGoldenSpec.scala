package graft

import java.nio.file.{Files, Paths}

import graft.qpe.Qpe

/** Golden products: the fixed five-radar volume and its four-radar
  * (degraded) subset run through `Qpe.compute`, with the SHA-256 of the
  * grid's raw doubles and of the ODIM and GIF bytes pinned. The digests
  * were taken from the slot plan that joined every gate to the broadcast
  * LUT and shuffled on the cell key, so any change to the distributed
  * stage's arithmetic or to the driver kernels shows here as a digest
  * change, not as a tolerance.
  */
class QpeGoldenSpec extends SparkSpec {

  private val TEnd = 1717200300L

  private def products(radars: Seq[Int], quality: String): (String, String, String) = {
    val dir = Files.createTempDirectory("graft_qpe_golden").toString
    val grid = Qpe.compute(QpeFixtures.polar(spark, radars), QpeFixtures.lut(spark), dir, TEnd,
      quality, QpeFixtures.Cfg)
    def fileSha(ext: String) =
      QpeFixtures.sha256(Files.readAllBytes(Paths.get(s"$dir/qpe_$TEnd.$ext")))
    (QpeFixtures.gridSha(grid), fileSha("h5"), fileSha("gif"))
  }

  test("five-radar volume: grid, ODIM and GIF digests are pinned") {
    assert(products(0 until 5, "ADLPW") == (
      "0bbef1e9f79096e67532d3d65329e216b7189d5916228b304b9845292c352b65",
      "f6c8e3aaa9e331895aaef7d3f744a6d5c10115a129c1f131692940379c1b2af5",
      "ebd9cc6a52ea214cbb97bdabed53c81c6f31e2ee581d6e2b5c513b1ff0b5dfdf"))
  }

  test("four-radar degraded volume: grid, ODIM and GIF digests are pinned") {
    assert(products(0 until 4, "ADLP-") == (
      "9540a1adc6bb4d04a4a20e3b3a9bc159d6856bb9e94441911a5f2207bb39587f",
      "bf22386d801368cb9483b8f6207a2a24dfb1ea662286dffce9b3bb07bd38dbe4",
      "a5c6e26af63a51e768e96b62244abd64a6e1c63e48045d467c67ced4dce47102"))
  }
}
