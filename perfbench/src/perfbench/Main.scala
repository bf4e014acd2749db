package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one closed-loop client thread.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR [--data DIR] [--smoke 1]
  *                  [--expected FILE] [--record 1]
  *
  * Set-up (input synthesis and cache fill) runs eleven times and reports
  * its median. Untimed, checked rotations then warm the JIT for 0.8 S seconds,
  * and calls run back to back for about S seconds, in whole rotations. With
  * `--trace 1` a traced loop of S seconds follows, with the benchmark's
  * listeners attached, then another untraced one, then the per-layer
  * probes. The last stdout line is the result JSON.
  */
object Main {
  final case class OpRecord(i: Int, name: String, seconds: Double, ok: Boolean,
                            units: Long, stats: Option[OpStats])

  val sparkLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.job_busy_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.plan_s" -> "s",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.deser_s" -> "s", "spark.tasks_per_op" -> "count",
    "spark.peak_conc" -> "count", "spark.slot_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "trace_overhead" -> "ratio", "call_p50_s" -> "s", "call_tail_s" -> "s", "call_tail_pct" -> "%",
    "calls" -> "count", "rss_peak_mb" -> "MB", "spark.session_start_s" -> "s") ++
    sparkLayer ++ Seq(
    "synth.population_s" -> "s", "core.fuse_s" -> "s", "stats.gram_s" -> "s",
    "stats.solve_us" -> "us", "stats.svymean_cal_s" -> "s", "stats.ols_s" -> "s",
    "estimators.regdi_c1_s" -> "s", "estimators.regdi_c2_s" -> "s",
    "estimators.regdi_c3_s" -> "s", "estimators.pc_s1_s" -> "s",
    "estimators.pc_s2_s" -> "s", "estimators.pc_s3_s" -> "s",
    "estimators.layer_other_s" -> "s", "estimators.core_stats_share" -> "ratio",
    "mc.localsim_ms" -> "ms", "mc.fanout_eff" -> "ratio", "mc.summarize_s" -> "s") ++
    CatalogWorkload.families.map(_._1).flatMap(f => Seq(
      s"queries.${f}_s" -> "s", s"queries.${f}_jobs_per_op" -> "count",
      s"queries.${f}_driver_gap_s" -> "s"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val record = a.getOrElse("record", "0") == "1"
    val work = new File(a("work"))
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cores = Runtime.getRuntime.availableProcessors()

    var spark: SparkSession = null
    val sessionS = Workloads.timed {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = name match {
      case "estimate_ref" =>
        if (smoke) new EstimateWorkload(spark, seed, 5000, 200, 2500)
        else new EstimateWorkload(spark, seed, 100000, 1000, 50000)
      case "mc_nmar" =>
        if (smoke) new McWorkload(spark, seed, 2, 2000, 100, 1000)
        else new McWorkload(spark, seed, 40, 100000, 1000, 50000)
      case "catalog_mix" =>
        val qs = if (smoke) CatalogWorkload.mix.take(3) else CatalogWorkload.mix
        new CatalogWorkload(spark, a("data"), qs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val expected: Map[String, String] = a.get("expected").map(new File(_))
      .filter(_.exists()).map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().map(_.split("\t", 2)).collect {
          case Array(k, v) => k -> v }.toMap
        finally src.close()
      }.getOrElse(Map())
    val reference = mutable.LinkedHashMap[String, String]()
    var checks = 0
    var badChecks = 0

    def check(i: Int, digest: String): Boolean = {
      checks += 1
      val op = w.opName(i)
      val ref = reference.getOrElseUpdate(op, digest)
      val ok = w.plausible(i, digest) && ref == digest &&
        (expected.isEmpty || expected.get(op).contains(digest))
      if (!ok) {
        badChecks += 1
        System.err.println(s"[perfbench] check failed: $op got $digest; " +
          s"reference $ref; expected ${expected.getOrElse(op, "-")}")
      }
      ok
    }

    /** One client call: only `run` is timed; the check and the
      * workload's clean-up are not. */
    def attempt(i: Int): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val digest = try Some(w.run(i)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${w.opName(i)} failed: $e"); None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val ok = digest.exists(check(i, _))
      if (digest.isEmpty) badChecks += 1
      w.afterOp()
      (dt, ok)
    }

    val setupReps = if (smoke) 2 else if (record) 1 else 11
    val setupTimes = (1 to setupReps).map { r =>
      if (r > 1) w.teardown()
      Workloads.timed(w.build())
    }

    /** Whole rotations of ops, ending on the rotation boundary nearest to
      * `secs` seconds (at least one rotation). */
    def rotations(secs: Double)(op: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (i == 0 || i % w.rotation != 0 ||
          elapsed * (1 + 0.5 * w.rotation / i) < secs) { op(i); i += 1 }
    }
    rotations(0.8 * seconds)(attempt)

    def loop(phase: String, tr: Option[Tracer]): Seq[OpRecord] = {
      val out = mutable.ArrayBuffer[OpRecord]()
      rotations(seconds) { i =>
        val group = s"$phase-$i"
        val (dt, ok) = tr match {
          case Some(t) => t.inGroup(group)(t.span(i, w.layer, w.opName(i))(attempt(i)))
          case None => val r = attempt(i); Tracer.drain(spark); r
        }
        out += OpRecord(i, w.opName(i), dt, ok, w.units(i), tr.map(_.stats(group)))
      }
      out.toSeq
    }

    val plain = loop("op", None)
    val all = mutable.ArrayBuffer[OpRecord]() ++= plain
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def p50(rs: Seq[OpRecord]) = Workloads.medianOf(rs.map(_.seconds))
    /** Median latency of each distinct call, geometric mean over the calls
      * of a rotation: unlike the median of a mixed population, it does not
      * jump between clusters of similar calls. */
    def gmP50(rs: Seq[OpRecord]) = {
      val ms = rs.groupBy(_.name).values.map(p50)
      math.exp(ms.map(math.log).sum / ms.size)
    }

    var correct = true
    if (!trace) {
      metrics("setup_s") = (Workloads.medianOf(setupTimes), "s")
      metrics("call_gm_p50_s") = (gmP50(plain), "s")
      metrics("ops_per_s") =
        (plain.filter(_.ok).map(_.units).sum / plain.map(_.seconds).sum, "op/s")
    } else {
      val tr = new Tracer(spark)
      val traced = loop("traced", Some(tr))
      all ++= traced
      val stats = traced.flatMap(_.stats)
      val ops = traced.size.toDouble
      def perOp(f: OpStats => Double) = stats.map(f).sum / ops
      val busy = stats.map(_.jobBusyS).sum
      val peak = stats.map(_.peakConc).foldLeft(0)(math.max)
      if (peak > cores) {
        correct = false
        System.err.println(s"[perfbench] peak task concurrency $peak > $cores cores")
      }
      tr.close()
      // a second untraced loop after the traced one, so that warm-up still
      // under way during the first does not read as negative overhead
      val plain2 = loop("op2", None)
      all ++= plain2
      val m = mutable.LinkedHashMap[String, Double]()
      m("trace_overhead") = gmP50(traced) / gmP50(plain ++ plain2)
      m("call_p50_s") = p50(plain)
      // the highest percentile with ten calls beyond it, over the calls of
      // all three loops; a run of fewer than 20 calls has no tail and
      // reports 0 for it
      val sorted = all.map(_.seconds).sorted
      if (sorted.size >= 20) {
        val k = sorted.size - 11
        m("call_tail_s") = sorted(k)
        m("call_tail_pct") = 100.0 * (k + 1) / sorted.size
      }
      m("calls") = sorted.size
      m("spark.session_start_s") = sessionS
      m("spark.jobs_per_op") = perOp(_.jobs)
      m("spark.job_busy_s") = busy / ops
      m("spark.driver_gap_s") = (traced.map(_.seconds).sum - busy) / ops
      m("spark.plan_s") = perOp(_.planS)
      m("spark.exec_run_s") = perOp(_.execRunS)
      m("spark.exec_cpu_s") = perOp(_.execCpuS)
      m("spark.gc_s") = perOp(_.gcS)
      m("spark.deser_s") = perOp(_.deserS)
      m("spark.tasks_per_op") = perOp(_.tasks)
      m("spark.peak_conc") = peak
      m("spark.slot_util") = if (busy > 0) stats.map(_.execRunS).sum / (busy * cores) else 0.0
      m("spark.shuffle_write_mb") = perOp(_.shuffleWriteMb)
      m("spark.shuffle_read_mb") = perOp(_.shuffleReadMb)
      m("spark.spill_mb") = perOp(_.spillMb)
      val byName = traced.groupBy(_.name)
      CatalogWorkload.families.foreach { case (f, qs) =>
        val rs = qs.flatMap(byName.getOrElse(_, Nil))
        if (rs.nonEmpty) {
          m(s"queries.${f}_s") = qs.flatMap(byName.get).map(p50).sum
          m(s"queries.${f}_jobs_per_op") = rs.flatMap(_.stats).map(_.jobs).sum.toDouble / rs.size
          m(s"queries.${f}_driver_gap_s") = rs.map(r => r.seconds -
            r.stats.map(_.jobBusyS).getOrElse(0.0)).sum / rs.size
        }
      }
      m ++= w.probes(tr, byName.map { case (k, rs) => k -> p50(rs) }, cores)
      m("rss_peak_mb") = rssPeakMb()
      perLayer.foreach { case (k, unit) => metrics(k) = (m.getOrElse(k, 0.0), unit) }
      writeSpans(new File(work, s"trace-$name-$seed.json"), tr.spans.toSeq)
    }

    val attempted = all.size
    val failed = all.count(!_.ok)
    if (badChecks > 0) correct = false
    writeTsv(new File(work, s"digests-$name-$seed.tsv"), reference.toSeq)
    writeTsv(new File(work, s"ops-$name-$seed.tsv"), all.toSeq.map(r =>
      r.name -> (s"${r.seconds}\t${r.ok}" + r.stats.fold("")(st =>
        s"\t${st.jobs}\t${st.jobBusyS}\t${st.shuffleWriteMb}\t${st.shuffleReadMb}"))))
    System.err.println(s"[perfbench] checks=$checks failed_checks=$badChecks " +
      s"against_record=${expected.nonEmpty} " +
      s"setup_reps=$setupReps calls=$attempted")
    val ms = metrics.map { case (k, (v, unit)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":$v,"unit":"$unit"}"""
    }.mkString(",")
    spark.stop()
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def writeTsv(f: File, rows: Seq[(String, String)]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try rows.foreach { case (k, v) => pw.println(s"$k\t$v") } finally pw.close()
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try pw.println(spans.map(s =>
      s"""{"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[", ",\n", "]"))
    finally pw.close()
  }
}
