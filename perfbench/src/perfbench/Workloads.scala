package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.core.Fusion
import graft.estimators.{PC, PCConfig, RegDI, RegDIConfig}
import graft.mc.{LocalSim, MonteCarlo}
import graft.operators.Samplers
import graft.stats.{Calibration, Gram, GramSpec, Ols, WeightedStats}
import graft.synth.Population
import graft.util.Tables.dsum

/** One closed-loop workload. Ops are numbered 0, 1, 2, ... and cycle through
  * `rotation` distinct calls; the benchmark ends a timed loop only on a whole
  * rotation, so every run weighs each call equally.
  *
  * Output checks: every op returns a digest of its output. The first digest
  * seen for a call (during set-up or warm-up) is the reference the later
  * calls must reproduce exactly; a digest recorded in `expected.json` for
  * the same seed is checked too. */
trait Workload {
  def layer: String
  def rotation: Int
  def opName(i: Int): String
  def units(i: Int): Long = 1L
  /** Build the inputs and fill the caches the ops read. */
  def build(): Unit
  def teardown(): Unit = ()
  /** Run op `i`; returns the output digest, or throws. */
  def run(i: Int): String
  /** Plausibility of a digest independent of any recorded value. */
  def plausible(i: Int, digest: String): Boolean = true
  /** Untimed clean-up after each op. */
  def afterOp(): Unit = ()
  /** Per-layer probe metrics for the traced run. */
  def probes(tr: Tracer, opP50: Map[String, Double], cores: Int): Map[String, Double]
}

object Workloads {
  val gammas: Seq[Double] = (0 to 10).map(_ / 10.0)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timedValue[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def timed(f: => Unit): Double = timedValue(f)._2
}

import Workloads._

/** RegDI corrections 1-3 and PC scenarios 1-3 over one NMAR population:
  * A is a Bernoulli probability sample with d_A = N/n_A, B is drawn with
  * `nmarPropensity` (its selection depends on y itself). */
final class EstimateWorkload(spark: SparkSession, seed: Long, n: Long,
                             nA: Int, nB: Long) extends Workload {
  val layer = "estimators"
  val configs = Seq("regdi_c1", "regdi_c2", "regdi_c3", "pc_s1", "pc_s2", "pc_s3")
  def rotation: Int = configs.size
  def opName(i: Int): String = configs(i % configs.size)

  private var popOne: DataFrame = _
  private var dataA: DataFrame = _
  private var dataB: DataFrame = _

  private def population(s: Long): DataFrame =
    Population.nmarPropensity(Population.cell2(spark, n, s), gamma = 0.5,
      targetSize = nB)

  def build(): Unit = {
    val drawn = Samplers.bernoulli(
      Samplers.bernoulli(population(seed), col("pi_B"), seed + 2000, "in_B",
        Some(Seq("id"))),
      lit(nA.toDouble / n), seed + 1000, "in_A", Some(Seq("id")))
    popOne = drawn.select("id", "x_i", "y_i", "in_A", "in_B").cache()
    dataA = popOne.filter(col("in_A") === 1).select("id", "x_i", "y_i")
      .withColumn("d_A", lit(n.toDouble / nA)).cache()
    dataB = popOne.filter(col("in_B") === 1).select("id", "x_i", "y_i").cache()
    popOne.count(); dataA.count(); dataB.count()
  }

  override def teardown(): Unit = Seq(dataA, dataB, popOne).foreach { d =>
    if (d != null) d.unpersist(blocking = true)
  }

  private def regdi(corr: Int) = RegDIConfig(yACol = "y_i", yBCol = "y_i",
    auxVars = Seq("x_i"), nTotal = Some(n.toDouble), weightsA = Some("d_A"),
    correction = corr)

  private def digest(xs: Double*): String = xs.map(java.lang.Double.toString).mkString(" ")

  def run(i: Int): String = opName(i) match {
    case "regdi_c1" =>
      val r = RegDI.twoSample(dataA, dataB, "id", "id", regdi(1))
      digest(r.mean, r.variance)
    case "regdi_c2" =>
      // A measures y with a linear error that the overlap model inverts
      val aDistorted = dataA.withColumn("y_i", col("y_i") * 1.25 + 0.5)
      val r = RegDI.twoSample(aDistorted, dataB, "id", "id", regdi(2))
      digest(r.mean, r.variance)
    case "regdi_c3" =>
      val r = RegDI.oneTable(popOne, "in_A", "in_B", RegDIConfig(
        yACol = "y_i", yBCol = "y_i", auxVars = Seq("x_i"), correction = 3,
        outcomeModel = Some("y_i ~ x_i"), evalModelPerformance = true))
      digest(r.mean, r.variance, r.rmse.getOrElse(Double.NaN))
    case "pc_s1" =>
      val r = PC.twoSample(dataA, dataB, "id", "id", PCConfig(
        yACol = Some("y_i"), yBCol = Some("y_i"), auxVars = Seq("x_i"),
        nTotal = Some(n.toDouble), weightsA = Some("d_A"), scenario = 1))
      digest(r.estimator, r.se.getOrElse(Double.NaN))
    case "pc_s2" =>
      // B observes only a linear proxy of y
      val bProxy = dataB.withColumn("tilde_y_i", col("y_i") * 0.8 + 1.0)
        .drop("y_i", "x_i")
      val r = PC.twoSample(dataA.drop("x_i"), bProxy, "id", "id", PCConfig(
        yACol = Some("y_i"), yBCol = Some("tilde_y_i"),
        nTotal = Some(n.toDouble), weightsA = Some("d_A"), scenario = 2,
        outcomeModel = Some("y_i ~ tilde_y_i")))
      digest(r.estimator, r.se.getOrElse(Double.NaN))
    case "pc_s3" =>
      val r = PC.oneTable(popOne, "in_A", "in_B", PCConfig(
        yACol = Some("y_i"), yBCol = Some("y_i"), auxVars = Seq("x_i"),
        scenario = 3, outcomeModel = Some("y_i ~ x_i"),
        evalModelPerformance = true))
      digest(r.estimator, r.se.getOrElse(Double.NaN))
  }

  /** The true mean of y is 3; every configuration lands near it. */
  override def plausible(i: Int, d: String): Boolean = {
    val est = d.split(" ").head.toDouble
    !est.isNaN && math.abs(est - 3.0) < 0.5
  }

  /** Re-run the steps of a RegDI correction-1 call one module at a time.
    * The Gram pass reads the lazily fused frame, so its span includes the
    * fused scan, as inside the call; `core.fuse_s` times that scan alone. */
  def probes(tr: Tracer, opP50: Map[String, Double], cores: Int): Map[String, Double] = {
    val reps = 3
    val popS = medianOf((1 to reps).map(r => tr.span(-1, "synth", "population")(
      timed(noop(population(seed + 7 + r))))))
    val fusion = Fusion.fuse(dataA, dataB, "id", "id")
    val yA = fusion.resolveA("y_i"); val yB = fusion.resolveB("y_i")
    val x = fusion.resolveB("x_i")
    val fused = fusion.df
      .withColumn("ind_var_A", col(yA).isNotNull.cast("int"))
      .withColumn("ind_var_B", col(yB).isNotNull.cast("int"))
    val fuseS = medianOf((1 to reps).map(_ => tr.span(-1, "core", "fuse")(
      timed(noop(fused)))))
    val isA = col("ind_var_A") === 1
    val isB = col("ind_var_B") === 1
    val deltas: Seq[(String, Column)] = Seq(
      "delta_i" -> when(isB, lit(1.0)).otherwise(lit(0.0)),
      "delta_yi" -> when(isB, col(yB)).otherwise(lit(0.0)),
      s"delta_$x" -> when(isB, col(x)).otherwise(lit(0.0)))
    val dA = when(isA, col(fusion.resolveA("d_A"))).otherwise(lit(0.0))
    val spec = GramSpec(lit(1.0) +: deltas.map(_._2), dA, Some(col(yA)), Some(isA))
    val extra = Seq(dsum(when(isA, lit(1.0))).as("nA")) ++
      deltas.map { case (c, e) => dsum(e).as(s"t_$c") }
    val calCols = "uno" +: deltas.map(_._1)
    val steps = (1 to reps).map { _ =>
      val ((grams, row), gramS) = tr.span(-1, "stats", "gram")(timedValue(
        Gram.momentsMulti(fused, Seq("cal" -> spec), extra)))
      val g = grams("cal")
      val totals = n.toDouble +: deltas.map(c => row.getAs[Double](s"t_${c._1}"))
      val info = Calibration.solveLambda(g, calCols, totals)
      val solveS = medianOf((1 to 20).map(_ =>
        timed(Calibration.solveLambda(g, calCols, totals))))
      val data = deltas.foldLeft(fused.withColumn("d_i_A", dA)
        .withColumn("uno", lit(1.0))) { case (d, (c, e)) => d.withColumn(c, e) }
        .cache()
      val calDf = data.filter(isA)
        .withColumn("w_cal", col("d_i_A") * Calibration.gWeightFactor(info))
      val svyS = tr.span(-1, "stats", "svymean_cal")(timed(
        WeightedStats.svymeanCalibrated(calDf, yA, "w_cal", calCols, g)))
      data.unpersist(blocking = true)
      (gramS, solveS, svyS)
    }
    val gramS = medianOf(steps.map(_._1))
    val solveS = medianOf(steps.map(_._2))
    val svyS = medianOf(steps.map(_._3))
    val olsS = medianOf((1 to reps).map(_ => tr.span(-1, "stats", "ols")(
      timed(Ols.fit(dataA, "y_i ~ x_i")))))
    val c1 = opP50.getOrElse("regdi_c1", 0.0)
    val covered = gramS + solveS + svyS
    Map(
      "synth.population_s" -> popS, "core.fuse_s" -> fuseS,
      "stats.gram_s" -> gramS, "stats.solve_us" -> solveS * 1e6,
      "stats.svymean_cal_s" -> svyS, "stats.ols_s" -> olsS,
      "estimators.layer_other_s" -> (c1 - covered),
      "estimators.core_stats_share" -> (if (c1 > 0) covered / c1 else 0.0)
    ) ++ configs.map(c => s"estimators.${c}_s" -> opP50.getOrElse(c, 0.0))
  }
}

/** The NMAR Monte-Carlo study: one op fans a replicates × γ grid out as
  * task-local simulations and collects the bias/SE/RMSE summary. */
final class McWorkload(spark: SparkSession, seed: Long, nSim: Int,
                       nPop: Int, nA: Int, nB: Int) extends Workload {
  val layer = "mc"
  def rotation = 1
  def opName(i: Int) = "nmar_grid"
  private val grid = MonteCarlo.nmarGrid(nSim, gammas, nPop, nA, nB, seed0 = seed)
  override def units(i: Int): Long = grid.size.toLong

  /** A two-replicate-per-γ fan-out (the smallest the SE column accepts). */
  def build(): Unit = {
    val small = MonteCarlo.nmarGrid(2, gammas, nPop, nA, nB, seed0 = seed)
    MonteCarlo.summarize(MonteCarlo.run(spark, small), 3.0).collect()
  }

  def run(i: Int): String = {
    val rows = MonteCarlo.summarize(MonteCarlo.run(spark, grid), 3.0).collect()
    require(rows.length == gammas.size * 4,
      s"expected ${gammas.size * 4} summary rows, got ${rows.length}")
    require(rows.forall(_.getAs[Long]("n_sims") == nSim), "replicate count")
    rows.map(_.toSeq.mkString(",")).mkString(";")
  }

  def probes(tr: Tracer, opP50: Map[String, Double], cores: Int): Map[String, Double] = {
    val localS = medianOf(grid.take(5).map(c => tr.span(-1, "mc", "localsim")(
      timed(LocalSim.run(c)))))
    val results = MonteCarlo.run(spark, grid).cache()
    results.count()
    val sumS = medianOf((1 to 3).map(_ => tr.span(-1, "mc", "summarize")(
      timed(MonteCarlo.summarize(results, 3.0).collect()))))
    results.unpersist(blocking = true)
    val p50 = opP50.getOrElse("nmar_grid", 0.0)
    Map("mc.localsim_ms" -> localS * 1e3, "mc.summarize_s" -> sumS,
      "mc.fanout_eff" -> (if (p50 > 0) grid.size * localS / (p50 * cores) else 0.0))
  }
}

/** A fixed mix of catalog queries, each forced through the `noop` sink.
  * Row count and an order-independent value hash ride along as observed
  * metrics of the same execution. */
final class CatalogWorkload(spark: SparkSession, dataDir: String,
                            queries: Seq[String])
    extends Workload {
  val layer = "queries"
  def rotation: Int = queries.size
  def opName(i: Int): String = queries(i % queries.size)
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def build(): Unit =
    tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())

  def run(i: Int): String = {
    val q = opName(i)
    val df = SparkEntry.queries(q)(spark, dataDir)
    val hashable = df.schema.fields.filterNot(_.dataType.isInstanceOf[MapType])
      .map(f => col(s"`${f.name}`"))
    val aggs = Seq(count(lit(1)).as("n")) ++ (
      if (hashable.isEmpty) Nil
      else Seq(coalesce(sum(shiftrightunsigned(xxhash64(hashable.toSeq: _*), 32)),
        lit(0L)).as("h")))
    val obs = Observation(q)
    noop(df.observe(obs, aggs.head, aggs.tail: _*))
    obs.get.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  override def afterOp(): Unit = {
    graft.util.QueryLeases.releaseAll()
    graft.queries.AnnQueries.clearExactMemo()
  }

  def probes(tr: Tracer, opP50: Map[String, Double], cores: Int): Map[String, Double] = Map()
}

object CatalogWorkload {
  /** Catalog family of each query in the mix. */
  val families: Seq[(String, Seq[String])] = Seq(
    "rel" -> Seq("j01_full_outer_fusion", "j05_asof_join", "a12_window_rank",
      "a16_rollup", "r02_pivot_longer"),
    "stats" -> Seq("m41_ols_diagnostics"),
    "text" -> Seq("t07_tfidf_topterms", "t10_bm25_retrieval", "t27_char_entropy",
      "t20_bpe_encode"),
    "ann" -> Seq("e01_cosine_topk", "e03_ann_lsh_topk", "e04_ann_ivf_topk"),
    "dedup" -> Seq("d03_minhash_lsh_neardup", "d05_dedup_clusters"),
    "graph" -> Seq("a24_pagerank", "a36_label_prop", "a40_connected_components"),
    "stream" -> Seq("w01_tumbling_window", "w02_session_window"),
    "sampling" -> Seq("g06_stratified_exact", "g12_dsir_resample"),
    "mm" -> Seq("mm01_multimodal_pack"))
  val mix: Seq[String] = families.flatMap(_._2)
}
