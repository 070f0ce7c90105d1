package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.Aggregators
import graft.ml.RF
import graft.qpe.Grid
import graft.streaming.RT

class MlStreamGridSpec extends SparkSpec {

  test("WeightedQuantile: exact crossing on a small weighted set") {
    import spark.implicits._
    // values 1..4 with weights 1,1,1,7 → q50 crossing lands on 4
    val ds = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 7.0)).toDS()
    val q50 = ds.select(new Aggregators.WeightedQuantile(0.5).toColumn).collect().head
    assert(q50 == 4.0)
    val q10 = ds.select(new Aggregators.WeightedQuantile(0.1).toColumn).collect().head
    assert(q10 == 1.0)
  }

  test("EnergyDistance: zero for identical samples, positive for shifted") {
    import spark.implicits._
    val same = (1 to 50).map(i => (i.toDouble, i.toDouble)).toDS()
    assert(same.select(new Aggregators.EnergyDistance().toColumn).collect().head == 0.0)
    val shifted = (1 to 50).map(i => (i.toDouble, i + 10.0)).toDS()
    val d = shifted.select(new Aggregators.EnergyDistance().toColumn).collect().head
    assert(d > 1.0)
  }

  test("EnergyDistance matches the O(n^2) definition on a small sample") {
    import spark.implicits._
    val xs = Seq(1.0, 3.0, 7.0)
    val ys = Seq(2.0, 2.0, 10.0)
    def meanAbs(a: Seq[Double], b: Seq[Double]) =
      (for { x <- a; y <- b } yield math.abs(x - y)).sum / (a.length * b.length)
    val expected = math.sqrt(2 * meanAbs(xs, ys) - meanAbs(xs, xs) - meanAbs(ys, ys))
    val got = xs.zip(ys).toDS().select(new Aggregators.EnergyDistance().toColumn)
      .collect().head
    assert(math.abs(got - expected) < 1e-12)
  }

  test("RF fit/predict: learns a monotone signal and clamps at zero") {
    import spark.implicits._
    val train = (1 to 300).map { i =>
      val x = (i % 50).toDouble
      (x, x % 7.0, 3.0 * x + 5.0)
    }.toDF("f1", "f2", "label")
    val model = RF.fit(train, Seq("f1", "f2"), "label", numTrees = 5, maxDepth = 6)
    val preds = RF.predict(model, train)
    assert(preds.filter(col("prediction_bc") < 0).count() == 0)
    val r = RF.rmse(preds, "prediction_bc", "label")
    assert(r < 20.0) // tree model fits a piecewise-linear ramp reasonably
    assert(model.bcSlope > 0.5 && model.bcSlope < 2.0)
  }

  test("permuteColumn preserves the multiset but breaks the pairing") {
    import spark.implicits._
    val d = (1 to 100).map(i => (i, i * 2.0)).toDF("id", "v")
    val p = RF.permuteColumn(d, "v", seed = 3)
    assert(p.count() == 100)
    val orig = d.select("v").collect().map(_.getDouble(0)).sorted.toSeq
    val perm = p.select("v").collect().map(_.getDouble(0)).sorted.toSeq
    assert(orig == perm)
    val moved = p.join(d.withColumnRenamed("v", "v0"), "id")
      .filter(col("v") =!= col("v0")).count()
    assert(moved > 50) // most rows got someone else's value
  }

  test("permuteColumn is deterministic across runs and never globally sorts") {
    import spark.implicits._
    val d = (1 to 200).map(i => (i, i * 1.5)).toDF("id", "v")
    def pairs() = RF.permuteColumn(d, "v", seed = 7)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(pairs() == pairs()) // same seed → identical re-pairing, run to run
    // every window in the plan is bucket-partitioned: no single-partition
    // global Sort (the scale hazard the old monotonically_increasing_id
    // construction had)
    val plan = RF.permuteColumn(d, "v", seed = 7).queryExecution
      .executedPlan.toString
    assert(!plan.contains("SinglePartition"))
  }

  test("permutationImportance: the label's own feature carries the importance (sf0.001)") {
    // label is a function of l_quantity alone; l_discount is unrelated
    val li = Core.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_quantity").as("qty"), col("l_discount").as("disc"),
        (col("l_quantity") * 3.0 + 5.0).as("label"))
    val model = RF.fit(li, Seq("qty", "disc"), "label", numTrees = 5, maxDepth = 6)
    val imp = RF.permutationImportance(model, li, "label")
    assert(imp.map(_._1) == Seq("qty", "disc"))
    val m = imp.toMap
    assert(m("qty") > 1.0, imp)
    assert(math.abs(m("disc")) < 0.1 * m("qty"), imp)
    assert(RF.permutationImportance(model, li, "label") == imp) // deterministic
  }

  test("streaming completeness: all sources arrived → complete quality string") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.SourceArrival]
    val q = RT.completenessStream(input.toDS(), timeoutMs = 60000)
      .writeStream.format("memory").queryName("slots1").outputMode("append").start()
    try {
      input.addData(RT.AllSources.map(s => RT.SourceArrival(1000L, s, 1000L)): _*)
      q.processAllAvailable()
      val rows = spark.table("slots1").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(1) == "ADLPW")
      assert(rows.head.getBoolean(2))
    } finally q.stop()
  }

  test("streaming completeness: missing source → degraded emit on timeout") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.SourceArrival]
    val q = RT.completenessStream(input.toDS(), timeoutMs = 1000)
      .writeStream.format("memory").queryName("slots2").outputMode("append").start()
    try {
      input.addData(Seq("A", "L").map(s => RT.SourceArrival(1000L, s, 1000L)): _*)
      q.processAllAvailable()
      assert(spark.table("slots2").count() == 0) // still waiting
      // watermark advance past slot deadline fires the event-time timeout
      input.addData(RT.SourceArrival(999000L, "A", 999000L))
      q.processAllAvailable()
      input.addData(RT.SourceArrival(999500L, "D", 999500L))
      q.processAllAvailable()
      val res = spark.table("slots2").collect().find(_.getLong(0) == 1000L)
      assert(res.isDefined)
      assert(res.get.getString(1) == "A-L--") // A and L present, D/P/W missing
      assert(!res.get.getBoolean(2))
    } finally q.stop()
  }

  test("streaming → product sink e2e: degraded slot writes an ODIM file with '-' quality") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.qpe.{Grid, Odim}
    val input = MemoryStream[RT.SourceArrival]
    val q = RT.completenessStream(input.toDS(), timeoutMs = 1000)
      .writeStream.format("memory").queryName("slots3").outputMode("append").start()
    try {
      input.addData(Seq("A", "L", "P", "W").map(s => RT.SourceArrival(5000L, s, 5000L)): _*)
      q.processAllAvailable()
      input.addData(RT.SourceArrival(999000L, "A", 999000L)) // advance watermark
      q.processAllAvailable()
      input.addData(RT.SourceArrival(999500L, "D", 999500L))
      q.processAllAvailable()
      val slot = spark.table("slots3").collect().find(_.getLong(0) == 5000L).get
      assert(slot.getString(1) == "A-LPW")
      // the degraded slot's grid goes through the ODIM writer with the
      // streaming quality string driving the metadata
      val cells = Seq((0, 0, 1.25), (1, 2, 3.5)).toDF("chx", "chy", "value")
      val grid = Grid.collectGrid(cells, nx = 3, ny = 4)
      val path = java.nio.file.Files.createTempFile("graft-rt", ".h5").toString
      Odim.write(path, grid, Odim.chMetaFromQuality(slot.getLong(0) / 1000 + 300,
        slot.getString(1)))
      val (back, fields) = Odim.read(path)
      assert(fields("radar") == "A-LPW")
      assert(fields("nodes") == "WMO:06661,WMO:06768,WMO:06726,WMO:06776")
      assert(math.abs(back(0)(0) - 1.25) < 1e-4 && math.abs(back(1)(2) - 3.5) < 1e-4)
      assert(back(2)(3).isNaN)
    } finally q.stop()
  }

  test("completeness: duplicate arrival after emit cannot re-open the slot; straggler past the deadline cannot kill the query") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.SourceArrival]
    val q = RT.completenessStream(input.toDS(), timeoutMs = 1000)
      .writeStream.format("memory").queryName("slots4").outputMode("append").start()
    try {
      // slot 1000 completes; a retransmitted arrival hits the tombstone
      input.addData(RT.AllSources.map(s => RT.SourceArrival(1000L, s, 1000L)): _*)
      q.processAllAvailable()
      input.addData(RT.SourceArrival(1000L, "A", 1500L)) // duplicate, fresh ts
      q.processAllAvailable()
      // slot 5000 partial; watermark sails past its deadline, then a
      // straggler with FRESH event time arrives for it — pre-fix this
      // called setTimeoutTimestamp below the watermark and KILLED the query
      input.addData(RT.SourceArrival(5000L, "A", 5000L))
      q.processAllAvailable()
      input.addData(RT.SourceArrival(900000L, "A", 900000L)) // advance wm
      q.processAllAvailable()
      input.addData(RT.SourceArrival(905000L, "D", 905000L)) // fire timeouts
      q.processAllAvailable()
      input.addData(RT.SourceArrival(5000L, "D", 905500L))   // straggler
      q.processAllAvailable()
      input.addData(RT.SourceArrival(910000L, "L", 910000L)) // advance again
      q.processAllAvailable()
      assert(q.isActive || q.exception.isEmpty, s"query died: ${q.exception}")
      val bySlot = spark.table("slots4").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.toSeq).toMap
      // exactly ONE result for the completed slot despite the duplicate
      assert(bySlot(1000L).map(r => (r.getString(1), r.getBoolean(2))) ==
        Seq(("ADLPW", true)))
      // slot 5000: one degraded emit from the passed deadline; the fresh
      // straggler may produce at most one more bounded-horizon emit, never
      // a crash and never a contradictory complete=true
      assert(bySlot(5000L).nonEmpty)
      assert(bySlot(5000L).forall(!_.getBoolean(2)))
      assert(bySlot(5000L).head.getString(1) == "A----")
    } finally q.stop()
  }

  test("completeness: many rows of one file inside a batch still yield one emit with the same quality") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.SourceArrival]
    val q = RT.completenessStream(input.toDS(), timeoutMs = 1000)
      .writeStream.format("memory").queryName("slots5").outputMode("append").start()
    try {
      // every gate row of a landed file is an arrival: 40 copies per source
      input.addData(Seq.fill(40)(RT.AllSources.map(s => RT.SourceArrival(1000L, s, 1000L))).flatten: _*)
      q.processAllAvailable()
      input.addData(Seq.fill(40)(Seq("A", "L", "W").map(s => RT.SourceArrival(5000L, s, 5000L))).flatten: _*)
      q.processAllAvailable()
      input.addData(Seq.fill(40)(RT.SourceArrival(900000L, "A", 900000L)): _*) // advance wm
      q.processAllAvailable()
      input.addData(RT.SourceArrival(905000L, "D", 905000L)) // fire timeouts
      q.processAllAvailable()
      val got = spark.table("slots5").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1).toSeq
      // (the watermark-advancing slot times out degraded too)
      assert(got.filter(_._1 < 900000L) == Seq((1000L, "ADLPW", true), (5000L, "A-L-W", false)))
    } finally q.stop()
  }

  test("pairWithPrevious: a late cross-batch row pairs with None and never regresses state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.KeyedValue]
    val q = RT.pairWithPrevious(input.toDS())
      .writeStream.format("memory").queryName("paired_late").outputMode("append").start()
    try {
      input.addData(RT.KeyedValue("m", 2, 20.0))
      q.processAllAvailable()
      input.addData(RT.KeyedValue("m", 1, 10.0)) // late: slot < stored slot
      q.processAllAvailable()
      input.addData(RT.KeyedValue("m", 3, 30.0))
      q.processAllAvailable()
      val rows = spark.table("paired_late").orderBy("slot").collect()
      assert(rows.length == 3)
      assert(rows(0).isNullAt(3))           // late row: NOT slot 2's future value
      assert(rows(1).isNullAt(3))           // slot 2 was first in, no prev
      assert(rows(2).getDouble(3) == 20.0)  // slot 3 pairs with slot 2, not 1
    } finally q.stop()
  }

  test("streaming pairWithPrevious carries state across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[RT.KeyedValue]
    val q = RT.pairWithPrevious(input.toDS())
      .writeStream.format("memory").queryName("paired").outputMode("append").start()
    try {
      input.addData(RT.KeyedValue("m", 1, 10.0))
      q.processAllAvailable()
      input.addData(RT.KeyedValue("m", 2, 20.0))
      q.processAllAvailable()
      val rows = spark.table("paired").orderBy("slot").collect()
      assert(rows.length == 2)
      assert(rows(0).isNullAt(3))               // first slot has no prev
      assert(rows(1).getDouble(3) == 10.0)      // second sees the first
    } finally q.stop()
  }

  test("streaming dedup drops repeated content within the watermark horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDS().toDF("ts", "text")
    val q = RT.streamingDedup(docs, "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("streamdedup").outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((t(0), "alpha"), (t(1), "alpha"), (t(2), "beta"))
      q.processAllAvailable()
      input.addData((t(3), "alpha"), (t(4), "gamma")) // dup across batches
      q.processAllAvailable()
      val texts = spark.table("streamdedup").collect().map(_.getString(1))
      assert(texts.sorted.toSeq == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("RF save/load round-trips the forest, slope and feature list") {
    import spark.implicits._
    val train = (1 to 100).map(i => ((i % 10).toDouble, i % 3.0, 2.0 * (i % 10)))
      .toDF("f1", "f2", "label")
    val model = RF.fit(train, Seq("f1", "f2"), "label", numTrees = 3, maxDepth = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_rf").toString
    RF.save(model, dir)
    val back = RF.load(dir)
    assert(back.features == model.features)
    assert(back.bcSlope == model.bcSlope)
    val p1 = RF.predict(model, train).select("prediction_bc").collect().map(_.getDouble(0))
    val p2 = RF.predict(back, train).select("prediction_bc").collect().map(_.getDouble(0))
    assert(p1.toSeq == p2.toSeq)
  }

  test("blockFlow recovers a rigid translation; advect applies it") {
    // 32x32 field with a bright square; shift by (2, 1)
    val prev = Array.tabulate(32, 32)((x, y) =>
      if (x >= 8 && x < 16 && y >= 8 && y < 16) 10.0 else 0.0)
    val curr = Array.tabulate(32, 32)((x, y) =>
      if (x >= 10 && x < 18 && y >= 9 && y < 17) 10.0 else 0.0)
    val (fx, fy) = Grid.blockFlow(prev, curr, block = 16, search = 3)
    assert(fx(0)(0) == 2 && fy(0)(0) == 1)
    val half = Grid.advect(prev, fx, fy, block = 16, t = 1.0)
    // full-step advection reproduces curr inside the moved square
    assert(half(12)(12) == 10.0)
    assert(half(10)(9) == 10.0)
  }

  test("advection fidelity: sub-block translation recovered field-wide; sub-pixel quantizes") {
    // smooth field with texture in EVERY 16x16 block (no flat block can
    // default its flow), rigidly translated by (3, 2) — well inside a block
    def f(x: Double, y: Double): Double =
      math.sin(x / 5.0) * math.cos(y / 7.0) + 0.3 * math.sin((x + y) / 11.0)
    val n = 128
    val prev = Array.tabulate(n, n)((x, y) => f(x, y))
    val curr = Array.tabulate(n, n)((x, y) => f(x - 3.0, y - 2.0))
    val (fx, fy) = Grid.blockFlow(prev, curr, block = 16, search = 4)
    // every one of the 8x8 blocks recovers the displacement exactly
    assert(fx.flatten.forall(_ == 3) && fy.flatten.forall(_ == 2),
      s"fx=${fx.flatten.toSet} fy=${fy.flatten.toSet}")
    // full-step advection reproduces the target wherever a source lands
    val adv = Grid.advect(prev, fx, fy, block = 16, t = 1.0)
    var maxErr = 0.0
    for (x <- 3 until n; y <- 2 until n)
      maxErr = math.max(maxErr, math.abs(adv(x)(y) - curr(x)(y)))
    assert(maxErr < 1e-12, s"max abs err $maxErr")
    // fractional step: t=0.5 of flow (3,2) rounds to a (2,1) shift
    val half = Grid.advect(prev, fx, fy, block = 16, t = 0.5)
    var halfErr = 0.0
    for (x <- 2 until n; y <- 1 until n)
      halfErr = math.max(halfErr, math.abs(half(x)(y) - f(x - 2.0, y - 1.0)))
    assert(halfErr < 1e-12, s"half-step err $halfErr")
    // DOCUMENTED DEVIATION vs the reference's pysteps Lucas-Kanade
    // (qpe/qpe_utils.py:271-312): block flow is integer-valued, so a
    // sub-PIXEL displacement quantizes to a neighbor integer instead of
    // resolving fractionally — bounded by construction to ±1 pixel here,
    // never a runaway estimate.
    val subPix = Array.tabulate(n, n)((x, y) => f(x - 0.5, y))
    val (sfx, sfy) = Grid.blockFlow(prev, subPix, block = 16, search = 4)
    assert(sfx.flatten.forall(v => v == 0 || v == 1), s"sub-pixel fx=${sfx.flatten.toSet}")
    assert(sfy.flatten.forall(v => math.abs(v) <= 1), s"sub-pixel fy=${sfy.flatten.toSet}")
  }

  test("boxStats: 3x3 scatter join computes neighborhood moments") {
    import spark.implicits._
    val cells = Seq((5, 5, 10.0), (6, 5, 20.0)).toDF("chx", "chy", "value")
    val stats = Grid.boxStats(cells, 1).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getLong(4)))).toMap
    assert(stats((5, 5)) == (15.0, 2L))  // both cells in its 3x3 box
    assert(stats((7, 5)) == (20.0, 1L))  // only (6,5) reaches it
    assert(stats((4, 4)) == (10.0, 1L))  // only (5,5) reaches it
  }

  test("grid: accumulate → collect → outlier removal → smooth pipeline") {
    import spark.implicits._
    val contribs = Seq(
      (5, 5, 10.0, 1.0), (5, 5, 20.0, 3.0), // weighted mean 17.5
      (6, 5, 1.0, 1.0)).toDF("chx", "chy", "v", "w")
    val cells = Grid.accumulate(contribs)
    val grid = Grid.collectGrid(cells, 10, 10)
    assert(math.abs(grid(5)(5) - 17.5) < 1e-12)
    assert(grid(6)(5) == 1.0)
    assert(grid(0)(0).isNaN)

    // outlier: a spike in a flat field gets replaced by the window mean
    val flat = Array.tabulate(9, 9)((_, _) => 1.0)
    flat(4)(4) = 1000.0
    val cleaned = Grid.outlierRemoval(flat, k = 2, zmax = 3.0)
    assert(cleaned(4)(4) < 100.0)

    // smoothing preserves a constant field exactly
    val const = Array.tabulate(9, 9)((_, _) => 2.0)
    val sm = Grid.gaussianSmooth(const, 0.5)
    assert(sm.flatten.forall(v => math.abs(v - 2.0) < 1e-12))
    // round-trip to DataFrame
    assert(Grid.gridToDF(spark, grid).count() == 2)
  }

  test("accumulate: NaN/NULL contributions drop value AND weight; all-invalid cell vanishes") {
    import spark.implicits._
    val contribs = Seq(
      (5, 5, 10.0, 1.0), (5, 5, Double.NaN, 3.0),       // NaN must not count its 3.0 weight
      (6, 5, Double.NaN, 1.0), (6, 5, Double.NaN, 2.0), // all-NaN cell: no output row
      (7, 5, 4.0, 1.0)).toDF("chx", "chy", "v", "w")
    val cells = Grid.accumulate(contribs)
    val out = cells.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(out.keySet == Set((5, 5), (7, 5)))      // the all-NaN cell is masked
    assert(math.abs(out((5, 5)) - 10.0) < 1e-12)   // NOT (10*1)/(1+3) = 2.5
    // collectGrid stays total even on degenerate cells
    val grid = Grid.collectGrid(cells, 10, 10)
    assert(grid(6)(5).isNaN && grid(5)(5) == 10.0)

    // weightedAccumulate shares the same valid-contribution contract
    val parts = Seq(
      Seq((1, 10.0, 1.0), (1, Double.NaN, 9.0)).toDF("cx", "v", "w"),
      Seq((1, 20.0, 1.0)).toDF("cx", "v", "w"))
    val acc = graft.operators.Agg.weightedAccumulate(parts, Seq("cx"), "v", "w")
      .collect().head
    assert(math.abs(acc.getDouble(acc.fieldIndex("estimate")) - 15.0) < 1e-12)
    assert(acc.getDouble(acc.fieldIndex("sum_w")) == 2.0) // the 9.0 never lands
  }

  test("gaussianSmoothCells: distributed separable smoothing matches the dense driver kernel") {
    import spark.implicits._
    // random sparse grid with NaN holes — the dense kernel sees NaN where
    // the sparse relation has no row, so agreement proves the scatter +
    // semi-join formulation IS the NaN-aware renormalized kernel
    val rnd = new scala.util.Random(7)
    val nx = 12; val ny = 9
    val dense = Array.tabulate(nx, ny)((_, _) =>
      if (rnd.nextDouble() < 0.3) Double.NaN else rnd.nextDouble() * 50.0)
    // half the NaN holes travel as EXPLICIT NaN rows: they must behave
    // exactly like missing rows (no weight in any denominator, absent from
    // the output) — the failure mode where a NaN row's tap weight inflates
    // its neighbours' renormalization is only visible with them present
    val sparse = (for (x <- 0 until nx; y <- 0 until ny
                       if !dense(x)(y).isNaN || (x + y) % 2 == 0)
      yield (x, y, dense(x)(y))).toDF("chx", "chy", "v")
    val expected = Grid.gaussianSmooth(dense, 0.5)
    val got = Grid.gaussianSmoothCells(sparse, 0.5).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val present = (0 until nx).flatMap(x => (0 until ny).collect {
      case y if !dense(x)(y).isNaN => (x, y)
    })
    assert(got.keySet == present.toSet, "sparse result must cover exactly the present cells")
    present.foreach { case (x, y) =>
      assert(math.abs(got((x, y)) - expected(x)(y)) < 1e-9,
        s"cell ($x,$y): sparse ${got((x, y))} vs dense ${expected(x)(y)}")
    }
  }

  test("FrozenRf: compiled when-chain == driver-side tree walk, clamp holds") {
    import org.apache.spark.sql.functions._
    import graft.ml.FrozenRf
    import graft.ml.FrozenRf.{TLeaf, TNode, TSplit}
    def walk(n: TNode, x: Seq[Double]): Double = n match {
      case TLeaf(v) => v
      case TSplit(f, t, l, r) => if (x(f) <= t) walk(l, x) else walk(r, x)
    }
    // probe points spanning the (quantity, discount, tax) domain, incl.
    // split-threshold boundary values where <= vs < would diverge
    val probes = Seq(
      Seq(1.0, 0.0, 0.0), Seq(19.5, 0.085, 0.035), Seq(31.5, 0.095, 0.055),
      Seq(50.0, 0.1, 0.08), Seq(9.5, 0.005, 0.005), Seq(48.5, 0.025, 0.015))
    val rows = probes.zipWithIndex.map { case (p, i) =>
      R(i.toLong, p(0), p(1), p(2))
    }
    val d = df("id BIGINT, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE", rows)
    val got = d.withColumn("pred", FrozenRf.frozenColumn(
        Seq(col("f1"), col("f2"), col("f3"))))
      .withColumn("pred_bc",
        greatest(lit(0.0), col("pred") * lit(FrozenRf.bcSlope)))
      .orderBy(col("id")).collect()
    // driver-side replay through the same public fixture
    val expected = probes.map { p =>
      val per = FrozenRf.frozenTrees.map(t => walk(t, p))
      per.reduce(_ + _) / per.length.toDouble
    }
    got.zip(expected).foreach { case (r, e) =>
      assert(r.getDouble(r.fieldIndex("pred")) == e, s"row ${r.getLong(0)}")
      assert(r.getDouble(r.fieldIndex("pred_bc")) ==
        math.max(0.0, e * FrozenRf.bcSlope))
    }
  }
}
