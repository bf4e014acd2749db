package graft.mc

import java.util.Random

/** One task-local NMAR simulation replicate: population synthesis,
  * sample draws, and the estimator battery — pure JVM arrays, no Spark.
  *
  * Mirrors `generate_population_NMAR` (`Simulaciones_Clean.ipynb:
  * 1242-1290 (cell 18)`) and the cell-23 battery semantics: x ~ N(2,1),
  * y = 3 + 0.7(x−2) + η with η ~ N(0, √0.51); A = SRS(n_A); B = exact-n
  * weighted draw with π ∝ logistic(γ·(y−c)) (Efraimidis–Spirakis keys —
  * same inclusion-probability law as R's `sample(prob=)`). RNG parity
  * with R is distributional, not bitwise (SURVEY.md §7.5.4): streams are
  * seeded per phase (seed, seed+1000, seed+2000) exactly as the
  * reference seeds its three `set.seed` calls.
  *
  * The estimators are the local (single-task) renditions of the same
  * closed forms the distributed graft.estimators use — identical math,
  * array arithmetic instead of Catalyst expressions.
  *
  * Kernel rule: every per-row path here is a primitive `while` loop over
  * `Array[Double]` / `Array[Int]` / `Array[Boolean]`. No tuples, and no
  * generic `Array.fill` / `Array.tabulate` / `ArrayOps.map`: those go
  * through `ScalaRunTime.array_update` and box every element, and a boxed
  * `(key, index)` sort of a 100k population cost more than the whole
  * estimator battery. The RNG call order and every floating-point
  * expression are part of the contract — a replicate's draws and
  * estimates are bit-stable across rewrites (McSuite pins them).
  */
object LocalSim {

  private final val TrueC = 3.0
  private final val SdEta = math.sqrt(0.51)
  private final val SdProxy = math.sqrt(0.75)

  /** The cell-18 NMAR population + sample draw, exposed for tests that
    * need to hand the SAME realization to the distributed estimators. */
  final case class NmarDraw(x: Array[Double], y: Array[Double],
                            inA: Array[Boolean], inB: Array[Boolean])

  def nmarDraw(cfg: SimConfig): NmarDraw = {
    val n = cfg.nPop
    val x = new Array[Double](n)
    val y = new Array[Double](n)
    nmarPopulation(new Random(cfg.seedBase), x, y)
    val inA = srsMask(new Random(cfg.seedBase + 1000L), n, cfg.nA)
    val inB = esMask(new Random(cfg.seedBase + 2000L), y, cfg.gamma, cfg.nB)
    NmarDraw(x, y, inA, inB)
  }

  def run(cfg: SimConfig): Seq[SimResult] = {
    val n = cfg.nPop
    val NmarDraw(x, y, inA, inB) = nmarDraw(cfg)
    val xCut = cutDummies(x, 2.0)
    val dA = n.toDouble / cfg.nA
    val dB = n.toDouble / cfg.nB
    Seq(
      SimResult(cfg.sim, cfg.gamma, "Mean_S_A", meanWhere(y, inA)),
      SimResult(cfg.sim, cfg.gamma, "Mean_S_B", meanWhere(y, inB)),
      SimResult(cfg.sim, cfg.gamma, "RegDI_X1",
        regdi2(n, y, y, Array(xCut(0)), inA, inB, dA)),
      SimResult(cfg.sim, cfg.gamma, "PC_X1_X2",
        pc(n, y, xCut, inA, inB, dA, dB))
    )
  }

  /** Simulation-1 battery (`ipynb` cells 2+4): stratified-by-x1 big
    * sample B (n_B1 from x≤2, n_B2 from x>2), SRS A, contaminated
    * ỹ = 2 + 0.9(y−3) + N(0,.5); 13 estimators across scenarios I/II —
    * RegDI(∅/x1/e1), PC scen-1 (x1,x2)/(e1,e2), naive means, and the
    * scenario-II variants (y_B = ỹ for RegDI; PC scen-2 with outcome
    * model y ~ ỹ). */
  def runSim1(sim: Int, seedBase: Long, n: Int, nA: Int,
              nB1: Int, nB2: Int): Seq[SimResult] = {
    val rng = new Random(seedBase)
    val x = new Array[Double](n)
    val y = new Array[Double](n)
    nmarPopulation(rng, x, y)
    val tildeY = new Array[Double](n)
    var i = 0
    while (i < n) {
      tildeY(i) = 2.0 + 0.9 * (y(i) - 3.0) + rng.nextGaussian() * 0.5
      i += 1
    }
    val eCut = proxyCut(rng, x)
    val xCut = cutDummies(x, 2.0)

    val inA = srsMask(new Random(seedBase + 500L), n, nA)

    // B: exact n_B1 from stratum x≤2, n_B2 from x>2 (cell 2 design)
    val rngB = new Random(seedBase + 900L)
    val inB = new Array[Boolean](n)
    markSrs(rngB, rowsEqual(xCut(0), 1.0), nB1, inB, "runSim1 stratum x<=2 (n_B1)")
    markSrs(rngB, rowsEqual(xCut(1), 1.0), nB2, inB, "runSim1 stratum x>2 (n_B2)")

    val dA = n.toDouble / nA
    val dB = n.toDouble / (nB1 + nB2)
    val x1 = Array(xCut(0))
    val e1 = Array(eCut(0))

    def res(name: String, est: Double) = SimResult(sim, 0.0, name, est)

    Seq(
      res("Mean_S_A", meanWhere(y, inA)),
      res("Mean_S_B", meanWhere(y, inB)),
      res("RegDI", regdi2(n, y, y, Array.empty, inA, inB, dA)),
      res("RegDI_X1", regdi2(n, y, y, x1, inA, inB, dA)),
      res("RegDI_e1", regdi2(n, y, y, e1, inA, inB, dA)),
      res("PC_X1", pc(n, y, xCut, inA, inB, dA, dB)),
      res("PC_e1", pc(n, y, eCut, inA, inB, dA, dB)),
      res("Mean_S_B_II", meanWhere(tildeY, inB)),
      res("RegDI_II", regdi2(n, y, tildeY, Array.empty, inA, inB, dA)),
      res("RegDI_X1_II", regdi2(n, y, tildeY, x1, inA, inB, dA)),
      res("RegDI_e1_II", regdi2(n, y, tildeY, e1, inA, inB, dA)),
      res("PC_X1_II", pcScen2(n, y, tildeY, xCut, inA, inB, dA, dB)),
      res("PC_e1_II", pcScen2(n, y, tildeY, eCut, inA, inB, dA, dB)))
  }

  /** NMAR-v2 study (`ipynb` cells 33+37): one population per (sim, γ)
    * carrying FIVE response columns y_sd_s = 3 + 0.7(x−2) + N(0, s) for
    * s in sdVector; B is drawn by the FIRST response's logistic π
    * (cell 33:  `prob_selection` uses `y_i_sd_<sd_vector[1]>`); per
    * response, five estimators: PC-DR scen-3 with (x1,x2) and (e1,e2)
    * aux+model, RegDI with no aux / x1 / e1. Emits long rows
    * (estimator, sd, estimate) for the cell-40/41 reporting pipeline. */
  def runSimV2(sim: Int, gamma: Double, seedBase: Long, n: Int, nA: Int,
               nB: Int, sdVector: Seq[Double]): Seq[SimResultV2] = {
    val rng = new Random(seedBase)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = 2.0 + rng.nextGaussian(); i += 1 }
    // noise drawn per-response in sdVector order (mirrors the R loop)
    val sds = sdVector.toArray
    val ys = new Array[Array[Double]](sds.length)
    var yi = 0
    while (yi < sds.length) {
      val y = new Array[Double](n)
      i = 0
      while (i < n) {
        y(i) = 3.0 + 0.7 * (x(i) - 2.0) + rng.nextGaussian() * sds(yi)
        i += 1
      }
      ys(yi) = y
      yi += 1
    }
    val eCut = proxyCut(rng, x)
    val xCut = cutDummies(x, 2.0)

    val inA = srsMask(new Random(seedBase + 1000L), n, nA)
    val inB = esMask(new Random(seedBase + 2000L), ys(0), gamma, nB)

    val dA = n.toDouble / nA
    val x1 = Array(xCut(0))
    val e1 = Array(eCut(0))

    sds.indices.flatMap { yi =>
      val y = ys(yi)
      def row(est: String, v: Double) = SimResultV2(sim, gamma, est, sds(yi), v)
      Seq(
        row("PC_xi_DR", pcDr1(n, y, xCut, inA, inB)),
        row("PC_ei_DR", pcDr1(n, y, eCut, inA, inB)),
        row("RegDI_no_aux", regdi2(n, y, y, Array.empty, inA, inB, dA)),
        row("RegDI_xi", regdi2(n, y, y, x1, inA, inB, dA)),
        row("RegDI_ei", regdi2(n, y, y, e1, inA, inB, dA)))
    }
  }

  /** The cell-18 population: x ~ N(2,1) for every row first, then
    * η ~ N(0, √0.51) for every row, y = 3 + 0.7(x−2) + η. */
  private def nmarPopulation(rng: Random, x: Array[Double],
                             y: Array[Double]): Unit = {
    var i = 0
    while (i < x.length) { x(i) = 2.0 + rng.nextGaussian(); i += 1 }
    i = 0
    while (i < x.length) {
      y(i) = 3.0 + 0.7 * (x(i) - 2.0) + rng.nextGaussian() * SdEta
      i += 1
    }
  }

  /** The cells-2/33 proxy auxiliary e = 0.5x + √0.75·v, v ~ N(0,1) per
    * row, returned as its (e ≤ 1, e > 1) dummies. */
  private def proxyCut(rng: Random, x: Array[Double]): Array[Array[Double]] = {
    val e = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { e(i) = 0.5 * x(i) + SdProxy * rng.nextGaussian(); i += 1 }
    cutDummies(e, 1.0)
  }

  /** The dummy pair (1{v ≤ c}, 1{v > c}). */
  private def cutDummies(v: Array[Double], c: Double): Array[Array[Double]] = {
    val le = new Array[Double](v.length)
    val gt = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      if (v(i) <= c) le(i) = 1.0
      if (v(i) > c) gt(i) = 1.0
      i += 1
    }
    Array(le, gt)
  }

  /** Row indices whose value equals `target`, ascending. */
  private def rowsEqual(v: Array[Double], target: Double): Array[Int] = {
    var c = 0
    var i = 0
    while (i < v.length) { if (v(i) == target) c += 1; i += 1 }
    val out = new Array[Int](c)
    c = 0
    i = 0
    while (i < v.length) { if (v(i) == target) { out(c) = i; c += 1 }; i += 1 }
    out
  }

  private def meanWhere(vals: Array[Double], sel: Array[Boolean]): Double = {
    var s = 0.0; var c = 0; var k = 0
    while (k < vals.length) { if (sel(k)) { s += vals(k); c += 1 }; k += 1 }
    s / c
  }

  private def countTrue(sel: Array[Boolean]): Int = {
    var c = 0; var k = 0
    while (k < sel.length) { if (sel(k)) c += 1; k += 1 }
    c
  }

  /** Exact-size SRS without replacement: a partial Fisher–Yates over
    * `pool` (shuffled in place), one `rng.nextInt(pool.length − k)` per
    * pick k, marking each pick in `into`. */
  private def markSrs(rng: Random, pool: Array[Int], size: Int,
                      into: Array[Boolean], what: String): Unit = {
    require(size >= 0 && size <= pool.length,
      s"$what: cannot draw $size of ${pool.length} units")
    var k = 0
    while (k < size) {
      val j = k + rng.nextInt(pool.length - k)
      val t = pool(k); pool(k) = pool(j); pool(j) = t
      into(pool(k)) = true
      k += 1
    }
  }

  /** A: SRS without replacement of exactly `nA` of `n` rows. */
  private def srsMask(rng: Random, n: Int, nA: Int): Array[Boolean] = {
    val idx = new Array[Int](n)
    var i = 0
    while (i < n) { idx(i) = i; i += 1 }
    val inA = new Array[Boolean](n)
    markSrs(rng, idx, nA, inA, "SRS of n_A")
    inA
  }

  /** B: weighted without replacement, exactly `nB` rows, π ∝
    * logistic(γ·(y−c)) — Efraimidis–Spirakis keys u^(1/π), one uniform
    * per row in row order. */
  private def esMask(rng: Random, y: Array[Double], gamma: Double,
                     nB: Int): Array[Boolean] = {
    val keys = new Array[Double](y.length)
    var k = 0
    while (k < y.length) {
      val p = 1.0 / (1.0 + math.exp(-gamma * (y(k) - TrueC)))
      keys(k) = math.pow(rng.nextDouble(), 1.0 / p)
      k += 1
    }
    topByKey(keys, nB)
  }

  /** The `m` largest keys, exactly the set a stable
    * `keys.zipWithIndex.sortBy(-_._1).take(m)` keeps: every key above
    * the m-th largest value, then the ties at that value in ascending
    * index order. The m-th largest comes from a quickselect on a
    * primitive copy, O(n) expected. Keys must not be NaN (E–S keys lie
    * in [0, 1)). */
  private[mc] def topByKey(keys: Array[Double], m: Int): Array[Boolean] = {
    val n = keys.length
    require(m >= 0 && m <= n, s"topByKey: cannot keep $m of $n keys")
    val top = new Array[Boolean](n)
    if (m > 0) {
      val t = kthSmallest(keys.clone(), n - m)
      var left = m
      var i = 0
      while (i < n) { if (keys(i) > t) { top(i) = true; left -= 1 }; i += 1 }
      i = 0
      while (left > 0) { if (keys(i) == t) { top(i) = true; left -= 1 }; i += 1 }
    }
    top
  }

  /** The k-th smallest (0-based) of `a`, by Hoare-partition quickselect
    * (Wirth's FIND); permutes `a`. */
  private def kthSmallest(a: Array[Double], k: Int): Double = {
    var lo = 0
    var hi = a.length - 1
    while (lo < hi) {
      val pivot = a(k)
      var i = lo
      var j = hi
      while (i <= j) {
        while (a(i) < pivot) i += 1
        while (pivot < a(j)) j -= 1
        if (i <= j) {
          val t = a(i); a(i) = a(j); a(j) = t
          i += 1; j -= 1
        }
      }
      if (j < k) lo = i
      if (k < i) hi = j
    }
    a(k)
  }

  /** PC scenario-3 DR1 (`PC.R:299-328`, one-table): calibrate B on aux
    * (direct totals), fit y ~ 1 + aux on A (alias-tolerant: with
    * saturated dummies the intercept is collinear and R's lm drops the
    * aliased column), predict everywhere,
    * est = (Σ_B w_cal·(y−ŷ) + Σ_U ŷ)/N. */
  private[mc] def pcDr1(n: Int, y: Array[Double], aux: Array[Array[Double]],
                        inA: Array[Boolean], inB: Array[Boolean]): Double = {
    val k = aux.length
    val dB = n.toDouble / countTrue(inB)
    val lambda = calLambda(n, aux, inB, dB, popTotals(aux))
    // OLS y ~ 1 + aux over A rows (p = k+1, alias-tolerant)
    val p = k + 1
    val oXtX = Array.ofDim[Double](p, p)
    val oXty = new Array[Double](p)
    val f = new Array[Double](p)
    f(0) = 1.0
    var r = 0
    while (r < n) {
      if (inA(r)) {
        var a = 0
        while (a < k) { f(1 + a) = aux(a)(r); a += 1 }
        var ii = 0
        while (ii < p) {
          oXty(ii) += f(ii) * y(r)
          var jj = 0
          while (jj < p) { oXtX(ii)(jj) += f(ii) * f(jj); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    val beta = solveAliased(oXtX, oXty)
    var acc = 0.0
    r = 0
    while (r < n) {
      var yhat = beta(0)
      var a = 0
      while (a < k) { yhat += beta(1 + a) * aux(a)(r); a += 1 }
      acc += yhat
      if (inB(r)) acc += dB * (1.0 + xLambda(aux, lambda, r)) * (y(r) - yhat)
      r += 1
    }
    acc / n
  }

  /** Gaussian elimination that DROPS aliased (collinear) columns — the
    * coefficient is forced to 0, as R's lm reports NA for aliased terms
    * and predicts without them. */
  private[mc] def solveAliased(a0: Array[Array[Double]],
                               b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    val dropped = new Array[Boolean](k)
    val scale = math.max(1e-300, a.map(_.map(math.abs).max).max)
    var col = 0
    while (col < k) {
      var pv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(pv)(col))) pv = r; r += 1 }
      if (math.abs(a(pv)(col)) < 1e-9 * scale) {
        dropped(col) = true
        // zero the column so back-substitution ignores it
        r = 0
        while (r < k) { a(r)(col) = 0.0; r += 1 }
        a(col)(col) = 1.0; b(col) = 0.0
      } else {
        val ta = a(col); a(col) = a(pv); a(pv) = ta
        val tb = b(col); b(col) = b(pv); b(pv) = tb
        r = col + 1
        while (r < k) {
          val f = a(r)(col) / a(col)(col)
          var c = col
          while (c < k) { a(r)(c) -= f * a(col)(c); c += 1 }
          b(r) -= f * b(col)
          r += 1
        }
      }
      col += 1
    }
    val out = new Array[Double](k)
    var r2 = k - 1
    while (r2 >= 0) {
      if (!dropped(r2)) {
        var s = b(r2)
        var c = r2 + 1
        while (c < k) { s -= a(r2)(c) * out(c); c += 1 }
        out(r2) = s / a(r2)(r2)
      }
      r2 -= 1
    }
    out
  }

  /** Stratified-sampling study (`ipynb` cells 7+12): x~N(10,1),
    * z~Bern(.5), 4 strata from (x≤9.5, z), y = 5+0.1x+3z+ε (true mean
    * 7.5), ỹ = 7.5+3(y−7.5)+N(0,√.5); A stratified proportional exact-n
    * with weights N_h/n_h, B stratified Bernoulli (π=.8/.2) with one
    * size-adjustment redraw. TWO-TABLE estimator calls: N̂ = Σ d_A,
    * PC totals are HT from A (`PC.R:190-199`), RegDI_X1 calibrates on
    * numeric `stratum` + x (the SURVEY §1.2 trap: stratum enters as a
    * single numeric column, NOT factor dummies). */
  def runSim2(sim: Int, seedBase: Long, n: Int, nATotal: Int,
              nBTotal: Int): Seq[SimResult] = {
    val rng = new Random(seedBase)
    val x = new Array[Double](n)
    val z = new Array[Double](n)
    val stratum = new Array[Double](n)
    val y = new Array[Double](n)
    val tildeY = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = 10.0 + rng.nextGaussian(); i += 1 }
    i = 0
    while (i < n) { z(i) = if (rng.nextDouble() < 0.5) 1.0 else 0.0; i += 1 }
    i = 0
    while (i < n) {
      stratum(i) =
        if (x(i) <= 9.5) { if (z(i) == 0.0) 1.0 else 2.0 }
        else { if (z(i) == 0.0) 3.0 else 4.0 }
      i += 1
    }
    i = 0
    while (i < n) {
      y(i) = 5.0 + 0.1 * x(i) + 3.0 * z(i) + rng.nextGaussian()
      i += 1
    }
    i = 0
    while (i < n) {
      tildeY(i) = 7.5 + 3.0 * (y(i) - 7.5) + rng.nextGaussian() * math.sqrt(0.5)
      i += 1
    }

    // A: stratified proportional exact-n, d = N_h/n_h
    val rngA = new Random(seedBase + 500L)
    val inA = new Array[Boolean](n)
    val dOfStratum = new Array[Double](5)
    for (s <- 1 to 4) {
      val members = rowsEqual(stratum, s.toDouble)
      val nH = members.length
      val nAh = math.floor(nH.toDouble / n * nATotal + 0.5).toInt
      dOfStratum(s) = nH.toDouble / nAh
      markSrs(rngA, members, nAh, inA, s"runSim2 stratum $s (n_A)")
    }
    val d = new Array[Double](n)
    var nHatA = 0.0                      // N̂ = Σ d_A (two-table default)
    i = 0
    while (i < n) {
      if (inA(i)) d(i) = dOfStratum(stratum(i).toInt)
      nHatA += d(i)
      i += 1
    }

    // B: Bernoulli by stratum prob, one rescaled redraw to target size
    val rngB = new Random(seedBase + 900L)
    val inB = new Array[Boolean](n)
    i = 0
    while (i < n) { inB(i) = rngB.nextDouble() < piOfStratum(stratum(i)); i += 1 }
    val got = countTrue(inB)
    if (got != nBTotal) {
      val f = nBTotal.toDouble / got
      i = 0
      while (i < n) {
        inB(i) = rngB.nextDouble() < math.min(piOfStratum(stratum(i)) * f, 1.0)
        i += 1
      }
    }

    val nB = countTrue(inB)
    val dB = nHatA / nB

    def wMeanA: Double = {
      var sw = 0.0; var swy = 0.0; var k = 0
      while (k < n) { if (inA(k)) { sw += d(k); swy += d(k) * y(k) }; k += 1 }
      swy / sw
    }

    def res(name: String, est: Double) = SimResult(sim, 0.0, name, est)
    Seq(
      res("Mean_S_A", wMeanA),
      res("Mean_S_B", meanWhere(y, inB)),
      res("RegDI", regdiW(n, y, y, Array.empty, inA, inB, d(_), nHatA)),
      res("RegDI_X1", regdiW(n, y, y, Array(stratum, x), inA, inB, d(_), nHatA)),
      res("PC_X1", pcHt(n, y, y, Array(stratum), inA, inB, d, dB, nHatA,
        scen2 = false)),
      res("Mean_S_B_II", meanWhere(tildeY, inB)),
      res("RegDI_II", regdiW(n, y, tildeY, Array.empty, inA, inB, d(_), nHatA)),
      res("RegDI_X1_II", regdiW(n, y, tildeY, Array(stratum, x), inA, inB, d(_), nHatA)),
      res("PC_X1_II", pcHt(n, y, tildeY, Array(stratum), inA, inB, d, dB,
        nHatA, scen2 = true)),
      // cell-13 re-run: same scenario-2 call with the richer aux set
      // (x, z, stratum) — the notebook's stored 0.284/0.014 check value
      res("PC_X1_II_cell13", pcHt(n, y, tildeY, Array(x, z, stratum), inA,
        inB, d, dB, nHatA, scen2 = true)))
  }

  /** Cell-7 B-inclusion probability: 0.8 in strata 1–2, 0.2 in 3–4. */
  private def piOfStratum(s: Double): Double = if (s <= 2.0) 0.8 else 0.2

  /** RegDI correction 0/1, calibration vars (uno, δ_i, δ_y, δ_aux…) —
    * the local form of `RegDI2.R:144-193,244-248` — with per-row design
    * weights `d` on A (stratified A) and possibly distinct A/B outcome
    * columns (scenario II passes ỹ as y_B — `RegDI2.R` y_A_col vs
    * y_B_col). */
  private[mc] def regdiW(n: Int, yA: Array[Double], yB: Array[Double],
                         aux: Array[Array[Double]],
                         inA: Array[Boolean], inB: Array[Boolean],
                         d: Int => Double, nTotal: Double): Double = {
    val k = 3 + aux.length
    val t = new Array[Double](k)
    t(0) = nTotal
    var r = 0
    while (r < n) {
      if (inB(r)) {
        t(1) += 1.0; t(2) += yB(r)
        var a = 0
        while (a < aux.length) { t(3 + a) += aux(a)(r); a += 1 }
      }
      r += 1
    }
    val xtdx = Array.ofDim[Double](k, k)
    val xtd = new Array[Double](k)
    val f = new Array[Double](k)
    r = 0
    while (r < n) {
      if (inA(r)) {
        val dr = d(r)
        java.util.Arrays.fill(f, 0.0)
        f(0) = 1.0
        if (inB(r)) {
          f(1) = 1.0; f(2) = yB(r)
          var a = 0
          while (a < aux.length) { f(3 + a) = aux(a)(r); a += 1 }
        }
        var ii = 0
        while (ii < k) {
          xtd(ii) += dr * f(ii)
          var jj = 0
          while (jj < k) { xtdx(ii)(jj) += dr * f(ii) * f(jj); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    val lambda = solve(xtdx, Array.tabulate(k)(ii => t(ii) - xtd(ii)))
    var sw = 0.0; var swy = 0.0
    r = 0
    while (r < n) {
      if (inA(r)) {
        var xl = lambda(0)
        if (inB(r)) {
          xl += lambda(1) + lambda(2) * yB(r)
          var a = 0
          while (a < aux.length) { xl += lambda(3 + a) * aux(a)(r); a += 1 }
        }
        val w = d(r) * (1.0 + xl)
        sw += w; swy += w * yA(r)
      }
      r += 1
    }
    swy / sw
  }

  /** PC two-table: aux totals are HT estimates from the A design
    * (`PC.R:190-199`); scen1 = calibrated B mean of y_B; scen2 = fit
    * y_A ~ y_B on overlap, combine. */
  private[mc] def pcHt(n: Int, yA: Array[Double], yB: Array[Double],
                       aux: Array[Array[Double]],
                       inA: Array[Boolean], inB: Array[Boolean],
                       d: Array[Double], dB: Double, nTotal: Double,
                       scen2: Boolean): Double = {
    val k = aux.length
    val t = new Array[Double](k)
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var m = 0
    var r = 0
    while (r < n) {
      if (inA(r)) {
        var a = 0
        while (a < k) { t(a) += d(r) * aux(a)(r); a += 1 }
        if (inB(r)) {
          sx += yB(r); sy += yA(r); sxy += yB(r) * yA(r)
          sxx += yB(r) * yB(r); m += 1
        }
      }
      r += 1
    }
    val lambda = calLambda(n, aux, inB, dB, t)
    if (!scen2) calMeanB(n, yB, aux, inB, dB, lambda)
    else {
      val b1 = (sxy - sx * sy / m) / (sxx - sx * sx / m)
      val b0 = sy / m - b1 * sx / m
      var acc = 0.0
      r = 0
      while (r < n) {
        if (inB(r))
          acc += dB * (1.0 + xLambda(aux, lambda, r)) * (b0 + b1 * yB(r))
        if (inA(r)) {
          // ŷ on A needs y_B there; outside B it's unobserved — the
          // reference's resolver falls back to the A-side y (y_i ~
          // tilde_y_i resolves tilde against B, y against A); residual
          // uses predictions where the proxy exists (overlap), raw y
          // elsewhere contributes y − ŷ with ŷ from the A-side proxy
          // value when present. Two-table mode: proxy only on B rows →
          // A-residual term uses overlap rows only, others ŷ = b0+b1·yB
          // is unavailable → reference predicts on data (joined frame)
          // where tilde_y is NA outside B, yielding NA predictions that
          // na.rm-drop. We mirror: only overlap rows contribute.
          if (inB(r)) acc += d(r) * (yA(r) - (b0 + b1 * yB(r)))
        }
        r += 1
      }
      acc / nTotal
    }
  }

  /** PC scenario 2 (`PC.R:255-297`): calibrate B on aux, fit OLS
    * y ~ ỹ on A∩B, est = (Σ d_B·ŷ + Σ_A d_A·(y−ŷ))/N. */
  private[mc] def pcScen2(n: Int, y: Array[Double], proxy: Array[Double],
                          aux: Array[Array[Double]],
                          inA: Array[Boolean], inB: Array[Boolean],
                          dA: Double, dB: Double): Double = {
    // OLS y ~ 1 + proxy on A∩B; DIRECT population totals (one-table
    // mode, PC.R:181-187 — the full frame IS the population)
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var m = 0
    var r = 0
    while (r < n) {
      if (inA(r) && inB(r)) {
        sx += proxy(r); sy += y(r); sxy += proxy(r) * y(r)
        sxx += proxy(r) * proxy(r); m += 1
      }
      r += 1
    }
    val b1 = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    val b0 = sy / m - b1 * sx / m
    val lambda = calLambda(n, aux, inB, dB, popTotals(aux))
    var acc = 0.0
    r = 0
    while (r < n) {
      val yhat = b0 + b1 * proxy(r)
      if (inB(r)) acc += dB * (1.0 + xLambda(aux, lambda, r)) * yhat
      if (inA(r)) acc += dA * (y(r) - yhat)
      r += 1
    }
    acc / n
  }

  /** RegDI correction 0/1 under SRS A: d = dA on every row, N = n. */
  private[mc] def regdi2(n: Int, yA: Array[Double], yB: Array[Double],
                         aux: Array[Array[Double]],
                         inA: Array[Boolean], inB: Array[Boolean],
                         dA: Double): Double =
    regdiW(n, yA, yB, aux, inA, inB, _ => dA, n.toDouble)

  /** PC scenario 1: calibrate the B design on aux vars against DIRECT
    * population totals (one-table mode, `PC.R:181-187,216-237` — the
    * reference's cell-4/23 calls pass the full population frame), then
    * the calibrated B mean. */
  private[mc] def pc(n: Int, y: Array[Double], aux: Array[Array[Double]],
                     inA: Array[Boolean], inB: Array[Boolean],
                     dA: Double, dB: Double): Double =
    calMeanB(n, y, aux, inB, dB, calLambda(n, aux, inB, dB, popTotals(aux)))

  /** Direct population totals Σ_U aux (one-table mode). */
  private def popTotals(aux: Array[Array[Double]]): Array[Double] = {
    val t = new Array[Double](aux.length)
    var a = 0
    while (a < aux.length) {
      var r = 0
      while (r < aux(a).length) { t(a) += aux(a)(r); r += 1 }
      a += 1
    }
    t
  }

  /** GREG calibration of the B design d_B on aux to totals `t`: the λ of
    * the calibrated weights w = d_B·(1 + auxᵀλ). */
  private def calLambda(n: Int, aux: Array[Array[Double]], inB: Array[Boolean],
                        dB: Double, t: Array[Double]): Array[Double] = {
    val k = aux.length
    val xtdx = Array.ofDim[Double](k, k)
    val xtd = new Array[Double](k)
    var r = 0
    while (r < n) {
      if (inB(r)) {
        var ii = 0
        while (ii < k) {
          xtd(ii) += dB * aux(ii)(r)
          var jj = 0
          while (jj < k) { xtdx(ii)(jj) += dB * aux(ii)(r) * aux(jj)(r); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    solve(xtdx, Array.tabulate(k)(ii => t(ii) - xtd(ii)))
  }

  /** auxᵀλ at row r. */
  private def xLambda(aux: Array[Array[Double]], lambda: Array[Double],
                      r: Int): Double = {
    var xl = 0.0
    var a = 0
    while (a < lambda.length) { xl += lambda(a) * aux(a)(r); a += 1 }
    xl
  }

  /** The calibrated B mean Σ_B w·y / Σ_B w, w = d_B·(1 + auxᵀλ). */
  private def calMeanB(n: Int, y: Array[Double], aux: Array[Array[Double]],
                       inB: Array[Boolean], dB: Double,
                       lambda: Array[Double]): Double = {
    var sw = 0.0; var swy = 0.0
    var r = 0
    while (r < n) {
      if (inB(r)) {
        val w = dB * (1.0 + xLambda(aux, lambda, r))
        sw += w; swy += w * y(r)
      }
      r += 1
    }
    swy / sw
  }

  /** In-place Gaussian elimination with partial pivoting (k ≤ ~8). */
  private[mc] def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    var col = 0
    while (col < k) {
      var p = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(p)(col))) p = r; r += 1 }
      val ta = a(col); a(col) = a(p); a(p) = ta
      val tb = b(col); b(col) = b(p); b(p) = tb
      require(math.abs(a(col)(col)) > 1e-12, "singular calibration system")
      r = col + 1
      while (r < k) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < k) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val out = new Array[Double](k)
    var r = k - 1
    while (r >= 0) {
      var s = b(r)
      var c = r + 1
      while (c < k) { s -= a(r)(c) * out(c); c += 1 }
      out(r) = s / a(r)(r)
      r -= 1
    }
    out
  }
}
