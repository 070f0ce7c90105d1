package graft

import java.nio.file.{Files, Path}

/** Verify never leaves a stale or failed result for the oracle compare. */
class VerifySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("a query whose build throws leaves no output and is reported failed") {
    val out = Files.createTempDirectory("graft_verify")
    val stale = Files.createDirectories(out.resolve("broken"))
    Files.writeString(stale.resolve("part-0.parquet"), "previous run")
    val queries: Seq[(String, Runner.Build)] = Seq(
      "broken" -> ((_, _) => throw new IllegalStateException("build failed")),
      "q1_pricing_summary" -> SparkEntry.queries("q1_pricing_summary"))
    val failed = Verify.dump(spark, sfDir, out.toString, queries)
    assert(failed == Seq("broken"))
    assert(!Files.exists(out.resolve("broken")))
    val written = Files.list(out.resolve("q1_pricing_summary")).toArray.map(_.asInstanceOf[Path])
    assert(written.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(spark.read.parquet(out.resolve("q1_pricing_summary").toString).count() ==
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count())
  }
}
