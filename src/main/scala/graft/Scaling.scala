package graft

/** Empirical scaling-curve guard: times every declared query at two scale
  * factors in one session and flags any whose runtime ratio exceeds the
  * superlinearity bound — a mechanical catch for an accidental O(n²)
  * (all-pairs join, unbounded window, driver-side loop) that plan-shape
  * reading alone can miss. sf0.01→sf0.1 is 10× data, so a healthy
  * linear-ish query stays well under the 15× bound (1.5× headroom for
  * fixed overheads amortizing differently); the bound is deliberately
  * loose because sub-second queries are dominated by constant scheduling
  * cost and legitimately scale FLAT — the guard is for blowups, not
  * regressions (the anchor-drift re-runs in [[Bench]] own those).
  *
  * Run: `sbt "runMain graft.Scaling"` (env SPARK_GRAFT_CPUS as usual).
  * Writes SCALING_local.json and exits nonzero on any flagged query.
  */
object Scaling {
  val Bound = 15.0

  def main(args: Array[String]): Unit = {
    val loSf = sys.env.getOrElse("SPARK_GRAFT_SCALING_LO", "/root/testdata/sf0.01")
    val hiSf = sys.env.getOrElse("SPARK_GRAFT_SCALING_HI", "/root/testdata/sf0.1")
    val spark = Core.harnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val selected = Runner.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
    // lo first doubles as the warmup for hi (same code paths, small data);
    // lo gets its own tiny warmup so its first query isn't billed JVM start
    scala.util.Try {
      Runner.noop(spark.read.parquet(s"$loSf/lineitem.parquet").groupBy("l_returnflag").count())
      Runner.noop(spark.read.parquet(s"$loSf/documents.parquet").limit(10))
    }
    val lo = Bench.timeAll(spark, loSf, selected, Map.empty)
    val hi = Bench.timeAll(spark, hiSf, selected, Map.empty)
    val rows = selected.map { case (name, _) =>
      val (l, h) = (lo.getOrElse(name, -1.0), hi.getOrElse(name, -1.0))
      // sub-0.2 s lo runs are pure scheduling overhead: ratio against
      // max(lo, 0.2) so a 0.05→0.9 s query (flat cost amortizing) can't
      // false-flag at 18× while a real 0.05→3 s blowup still trips
      val ratio = if (l <= 0 || h <= 0) -1.0 else h / math.max(l, 0.2)
      (name, l, h, ratio)
    }
    // a failed run (negative timing from timeAll) is a flag, not a pass: a
    // query that crashes in 0.1 s at hi sf would otherwise read as "fast"
    val flagged = rows.filter { case (_, l, h, r) => r > Bound || l < 0 || h < 0 }
    val json = rows.map { case (n, l, h, r) =>
      s"""\"$n\":{\"lo\":${Bench.fmt3(l)},\"hi\":${Bench.fmt3(h)},\"ratio\":${Bench.fmt3(r)}}"""
    }.mkString("{", ",", "}")
    scala.util.Try {
      java.nio.file.Files.write(java.nio.file.Paths.get("SCALING_local.json"),
        (s"""{"lo_sf":"$loSf","hi_sf":"$hiSf","bound":$Bound,"flagged":[${
          flagged.map(f => "\"" + f._1 + "\"").mkString(",")}],"queries":$json}""" + "\n")
          .getBytes("UTF-8"))
    }
    println(f"${"query"}%-28s ${"lo_s"}%8s ${"hi_s"}%8s ${"ratio"}%7s")
    rows.foreach { case (n, l, h, r) =>
      val flag = if (l < 0 || h < 0) "  <-- FAILED"
        else if (r > Bound) "  <-- SUPERLINEAR" else ""
      println(f"$n%-28s ${Bench.fmt3(l)}%8s ${Bench.fmt3(h)}%8s ${Bench.fmt3(r)}%7s$flag")
    }
    if (flagged.nonEmpty) {
      System.err.println(s"SCALING FLAG: ${flagged.map(_._1).mkString(", ")} " +
        s"failed or exceed ${Bound}x from $loSf to $hiSf")
    }
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
