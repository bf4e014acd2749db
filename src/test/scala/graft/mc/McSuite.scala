package graft.mc

import graft.SparkSpec

/** Monte-Carlo harness checks against BASELINE.md's NMAR robustness
  * qualitative structure (true mean 3.0; naive B bias grows with γ,
  * RegDI stays ≈0) at reduced scale for test runtime. Tolerances are
  * Monte-Carlo bands (seeded → deterministic, no flakes). */
class McSuite extends SparkSpec {
  import spark.implicits._

  private lazy val results = MonteCarlo.run(spark,
    MonteCarlo.nmarGrid(nSim = 10, gammas = Seq(0.0, 1.0),
      nPop = 20000, nA = 1000, nB = 5000)).cache()

  private def meanEst(gamma: Double, est: String): Double = {
    val xs = results.filter(r => r.getAs[Double]("gamma") == gamma &&
        r.getAs[String]("estimator") == est)
      .select("estimate").as[Double].collect()
    xs.sum / xs.length
  }

  test("γ=0 (MCAR): every estimator unbiased for the true mean 3.0") {
    for (e <- Seq("Mean_S_A", "Mean_S_B", "RegDI_X1", "PC_X1_X2"))
      assert(math.abs(meanEst(0.0, e) - 3.0) < 0.05, s"$e biased at γ=0")
  }

  test("γ=1 (NMAR): naive B mean biased up; RegDI corrects it") {
    val naiveBias = meanEst(1.0, "Mean_S_B") - 3.0
    val regdiBias = meanEst(1.0, "RegDI_X1") - 3.0
    assert(naiveBias > 0.1, s"expected strong NMAR bias, got $naiveBias")
    assert(math.abs(regdiBias) < 0.06, s"RegDI bias $regdiBias")
    assert(math.abs(regdiBias) < naiveBias / 2)
  }

  test("A-sample SRS mean is unbiased regardless of γ") {
    assert(math.abs(meanEst(1.0, "Mean_S_A") - 3.0) < 0.05)
  }

  test("summarize reports bias/se/rmse per (γ, estimator)") {
    val s = MonteCarlo.summarize(results.toDF(), trueMean = 3.0).collect()
    assert(s.length === 8) // 2 γ × 4 estimators
    val row = s.find(r => r.getAs[Double]("gamma") == 1.0 &&
      r.getAs[String]("estimator") == "Mean_S_B").get
    assert(row.getAs[Double]("bias") > 0.1)
    assert(row.getAs[Double]("rmse") >= math.abs(row.getAs[Double]("bias")))
    assert(row.getAs[Long]("n_sims") === 10L)
  }

  test("simulations are deterministic given seeds") {
    val grid = MonteCarlo.nmarGrid(2, Seq(0.5), 2000, 100, 400)
    val a = MonteCarlo.run(spark, grid).as[SimResult].collect().sortBy(r => (r.sim, r.estimator)).toSeq
    val b = MonteCarlo.run(spark, grid).as[SimResult].collect().sortBy(r => (r.sim, r.estimator)).toSeq
    assert(a === b)
  }

  test("o02/o03 self-validating columns are all true (the rows-only invariant)") {
    import org.apache.spark.sql.functions.{col, lit, min}
    val o02 = graft.queries.MiscQueries.qs.find(_.name == "o02_mc_fanout").get
      .run(spark, "/root/testdata/sf0.001")
    val f02 = o02.agg(
      min(col("battery_complete").cast("int")),
      min(col("estimate_finite").cast("int")),
      min(col("deterministic").cast("int"))).head()
    assert(f02.getInt(0) === 1, "battery_complete")
    assert(f02.getInt(1) === 1, "estimate_finite")
    assert(f02.getInt(2) === 1, "deterministic")
    assert(o02.count() === 2 * 3 * 4) // 2 γ × 3 sims × 4 estimators

    val o03 = graft.queries.MiscQueries.qs.find(_.name == "o03_mc_summary").get
      .run(spark, "/root/testdata/sf0.001")
    val f03 = o03.agg(
      min(col("identity_ok").cast("int")),
      min(col("n_sims_ok").cast("int"))).head()
    assert(f03.getInt(0) === 1, "rmse²=bias²+var·(n−1)/n identity")
    assert(f03.getInt(1) === 1, "n_sims")
    assert(o03.count() === 3 * 4) // 3 γ × 4 estimators
  }

  test("o04 twin: the distributed fan-out reproduces the driver-side " +
      "replay bit-for-bit (o02's fan-out machinery, hash-anchored)") {
    val grid = MonteCarlo.portableGrid(nSim = 3, gammas = Seq(0.0, 1.0),
      nPop = 2000)
    val fanned = MonteCarlo.runPortable(spark, grid).as[SimResult]
      .collect().sortBy(r => (r.gamma, r.estimator, r.sim)).toSeq
    val local = grid.flatMap(PortableSim.simulate)
      .sortBy(r => (r.gamma, r.estimator, r.sim))
    assert(fanned === local,
      "flatMap fan-out diverged from the sequential replay")
  }

  test("o02/o03 agreement with the o04 twin: same fan-out result " +
      "schema, same battery size per cell, same summarize identities " +
      "(r14-verdict task 4 pins)") {
    import org.apache.spark.sql.functions.{abs => sabs, col, lit, max => smax}
    val grid = MonteCarlo.portableGrid(nSim = 3, gammas = Seq(0.0, 1.0),
      nPop = 2000)
    val twin = MonteCarlo.runPortable(spark, grid).cache()
    try {
      // schema agreement: the twin's assembled rows are the production
      // fan-out's SimResult schema, column for column
      assert(twin.schema === results.toDF().schema,
        "o04 twin schema diverged from MonteCarlo.run's")
      // battery agreement: 4 estimators per (gamma, sim) cell, like o02
      val cells = twin.groupBy("gamma", "sim").count().collect()
      assert(cells.length === 6 && cells.forall(_.getAs[Long]("count") == 4L))
      // o03's identity invariant holds on the twin's summary — and is
      // now ALSO hash-anchored externally via o04's DuckDB oracle
      val summ = MonteCarlo.summarize(twin, trueMean = 3.0)
      val gap = summ.agg(smax(sabs(col("rmse") * col("rmse") -
        (col("bias") * col("bias") +
          col("se") * col("se") * (col("n_sims") - 1) / col("n_sims")))))
        .head().getDouble(0)
      assert(gap <= 1e-9, s"summarize identity gap $gap on the twin")
      // and the twin's battery behaves like a battery, not arithmetic
      // soup: at γ=1 the naive B mean is biased up, the regression and
      // DR estimators correct most of it, the A-sample mean stays clean
      val m = summ.collect().map(r => (r.getAs[Double]("gamma"),
        r.getAs[String]("estimator")) -> r.getAs[Double]("bias")).toMap
      assert(m((1.0, "Mean_S_B")) > 0.02, "no NMAR tilt at gamma=1")
      assert(math.abs(m((1.0, "Reg_X1"))) < m((1.0, "Mean_S_B")),
        "regression adjustment did not reduce the NMAR bias")
      assert(math.abs(m((1.0, "Mean_S_A"))) < 0.05)
    } finally twin.unpersist()
  }

  test("RegDI linearization SE matches the Monte-Carlo spread (variance validation)") {
    // Empirical truth: spread of the point estimate over 100 replicates
    val cfgOf = (i: Int) => SimConfig(i, 0.5, 5000L + i, 20000, 800, 5000)
    val points = (1 to 100).map { i =>
      val r = LocalSim.run(cfgOf(i))
      r.find(_.estimator == "RegDI_X1").get.estimate
    }
    val mcMean = points.sum / points.size
    val mcSd = math.sqrt(points.map(p => (p - mcMean) * (p - mcMean)).sum /
      (points.size - 1))

    // Estimated SE: the distributed estimator's linearization variance on
    // ONE of those exact realizations
    val d = LocalSim.nmarDraw(cfgOf(1))
    val df = (0 until 20000).map(i =>
        (i.toLong, d.x(i), d.y(i), if (d.x(i) <= 2.0) 1.0 else 0.0,
          if (d.inA(i)) 1 else 0, if (d.inB(i)) 1 else 0))
      .toDF("id", "x_i", "y_i", "x1_i", "in_A", "in_B")
    val est = graft.estimators.RegDI.oneTable(df, "in_A", "in_B",
      graft.estimators.RegDIConfig(yACol = "y_i", yBCol = "y_i",
        auxVars = Seq("x1_i"), correction = 1))
    assert(est.se > 0.5 * mcSd && est.se < 2.0 * mcSd,
      s"linearization SE ${est.se} vs MC sd $mcSd")
  }

  test("distributed mode: production estimators per replicate, same story") {
    val res = MonteCarlo.runDistributed(spark, nSim = 2, nPop = 20000L,
      nA = 800)
    val byEst = res.groupBy("estimator")
      .agg(org.apache.spark.sql.functions.avg("estimate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byEst("Mean_S_B") < 2.95)                 // biased selection
    assert(math.abs(byEst("RegDI_X1") - 3.0) < 0.1)  // corrected
  }

  test("topByKey keeps exactly the rows a stable sortBy(-key).take(m) keeps") {
    val rng = new java.util.Random(11L)
    val levels = Array(0.0, 0.25, 0.5)
    for (trial <- 0 until 300; heavyTies <- Seq(false, true)) {
      val n = 1 + rng.nextInt(if (trial % 20 == 0) 5000 else 60)
      val keys = Array.fill(n)(
        if (heavyTies) levels(rng.nextInt(3)) else rng.nextDouble())
      val before = keys.clone()
      for (m <- Seq(0, 1, n / 2, n).distinct) {
        val want = keys.zipWithIndex.sortBy(-_._1).take(m).map(_._2).toSet
        val got = LocalSim.topByKey(keys, m)
        assert(got.indices.filter(got(_)).toSet === want,
          s"n=$n m=$m ties=$heavyTies")
      }
      assert(keys.sameElements(before), "topByKey reordered its input")
    }
  }

  test("replicate estimates are bit-pinned: draw order and arithmetic " +
      "are part of the kernel's contract") {
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(LocalSim.run(SimConfig(1, 0.5, 42L, 2000, 100, 400))
      .map(_.estimate)) === Seq(
        0x4007ed3818b6ea73L, 0x400a2f804da801ccL, 0x4008485bcffd74f8L,
        0x40098893dbfb0358L))
    // γ = 200 zeroes about half the E–S keys, so n_B = 1500 is filled
    // through ties at key 0.0 (ascending-index order)
    assert(bits(LocalSim.run(SimConfig(2, 200.0, 43L, 2000, 100, 1500))
      .map(_.estimate)) === Seq(
        0x4008bcbd07331b37L, 0x400acde19f99bc2dL, 0x40088fcc7d99dbd1L,
        0x4009f677619ac0f5L))
    assert(bits(LocalSim.runSim1(1, 7L, 2000, 100, 200, 300)
      .map(_.estimate)) === Seq(
        0x400807c398740416L, 0x4009121b8fa18391L, 0x4008385ee695dbcdL,
        0x4008385ee695dbcdL, 0x4008385ee695dbcbL, 0x40086371db06dfe8L,
        0x4008f81ca654fcbfL, 0x4001142c7bfb6fdfL, 0x40087a58951ae1cdL,
        0x40087bb0d8dbb95dL, 0x40087a6e2799583dL, 0x4008a314fb8db38eL,
        0x40091ca94c3c8eefL))
    assert(bits(LocalSim.runSim2(1, 7L, 4000, 200, 800)
      .map(_.estimate)) === Seq(
        0x401de9d90a25778fL, 0x401deb6cd7613b0dL, 0x401df490e9f49e04L,
        0x401df490e9f49dfeL, 0x401e3506b2097dc0L, 0x401df5c31764be5fL,
        0x401df33a386175f8L, 0x401df224c742464fL, 0x4022d88c4f678c5cL,
        0x401e4c8a0a2de066L))
    assert(bits(LocalSim.runSimV2(1, 0.5, 42L, 2000, 100, 400, Seq(0.5, 1.0))
      .map(_.estimate)) === Seq(
        0x40090480e82e7638L, 0x40096c5caae092b3L, 0x4008812cfd1f6b01L,
        0x4008812cfd1f6b01L, 0x4008812cfd1f6b02L, 0x40088853f1b41974L,
        0x4008ececd4510747L, 0x4008c058460ac430L, 0x4008c058460ac42eL,
        0x4008c058460ac42eL))
  }

  test("an oversized draw fails on the driver and names the bad size") {
    val tooBig = intercept[IllegalArgumentException](
      MonteCarlo.nmarGrid(1, Seq(0.0), nPop = 100, nA = 10, nB = 101))
    assert(tooBig.getMessage.contains("nB=101") &&
      tooBig.getMessage.contains("nPop=100"), tooBig.getMessage)
    val empty = intercept[IllegalArgumentException](
      SimConfig(1, 0.0, 1L, nPop = 100, nA = 0, nB = 10))
    assert(empty.getMessage.contains("nA=0"), empty.getMessage)
    // runSim1's x<=2 stratum holds about half of 200 rows
    val stratum = intercept[IllegalArgumentException](
      LocalSim.runSim1(1, 7L, n = 200, nA = 10, nB1 = 150, nB2 = 10))
    assert(stratum.getMessage.contains("n_B1") &&
      stratum.getMessage.contains("cannot draw 150"), stratum.getMessage)
  }

  test("local solver matches a hand-computed 2x2 system") {
    val x = LocalSim.solve(Array(Array(2.0, 1.0), Array(1.0, 3.0)),
      Array(5.0, 10.0))
    assert(math.abs(x(0) - 1.0) < 1e-12)
    assert(math.abs(x(1) - 3.0) < 1e-12)
  }
}
