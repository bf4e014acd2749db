package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, recorded by the benchmark around
  * its own call into a module. `op` ties the span to the client call it
  * ran under (-1 for probes outside the op loop). */
final case class Span(op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Spark-side counters of one op, read after its jobs have drained. */
final case class OpStats(
    jobs: Int, jobBusyS: Double, planS: Double, tasks: Int,
    execRunS: Double, execCpuS: Double, gcS: Double, deserS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    peakConc: Int)

/** Benchmark-owned SparkListener + QueryExecutionListener. Every op runs
  * under its own job group; stages map to the group of the job that
  * submitted them, so task metrics land on the op that caused them. Plan
  * phases come from QueryExecution listener callbacks, which are drained
  * (with every other listener event) before an op's counters are read. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val lock = new Object
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobIntervals = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobStart = mutable.Map[Int, Long]()
  private val taskTimes = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val taskSums = mutable.Map[String, Array[Double]]()
  private val planMs = mutable.Map[String, Long]()
  @volatile private var currentGroup: String = ""
  val spans = mutable.ArrayBuffer[Span]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    val s = jobStart.getOrElse(e.jobId, e.time)
    jobIntervals.getOrElseUpdate(g, mutable.ArrayBuffer()) += ((s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (m != null) {
      // the slot is busy from launch until the executor is done with the
      // task; the Spark driver stamps finishTime only once it has handled the
      // result, which can be after the slot was handed to the next task
      val start = e.taskInfo.launchTime
      taskTimes.getOrElseUpdate(g, mutable.ArrayBuffer()) += ((start, start +
        m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime))
      val a = taskSums.getOrElseUpdate(g, new Array[Double](7))
      a(0) += m.executorRunTime / 1e3
      a(1) += m.executorCpuTime / 1e9
      a(2) += m.jvmGCTime / 1e3
      a(3) += m.executorDeserializeTime / 1e3
      a(4) += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      a(5) += m.shuffleReadMetrics.totalBytesRead / 1048576.0
      a(6) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
    }
  }

  private def addPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    lock.synchronized {
      planMs(currentGroup) = planMs.getOrElse(currentGroup, 0L) + ms
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPlan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)

  /** Run `body` as op `group`: its own job group, then wait until the
    * status tracker shows no active job and the listener bus is empty. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    currentGroup = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      Tracer.drain(spark)
    }
  }

  def span[T](op: Int, layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(op, layer, name, t0, System.nanoTime())
  }

  /** Peak number of simultaneously running tasks, swept over launch and
    * finish times (a task finishing at t frees its slot before one
    * launching at t takes it). */
  private def peak(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    ev.scanLeft(0)(_ + _._2).max
  }

  /** Length of the union of job-active intervals, in seconds. */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def stats(group: String): OpStats = lock.synchronized {
    val jobs = jobIntervals.getOrElse(group, mutable.ArrayBuffer())
    val tasks = taskTimes.getOrElse(group, mutable.ArrayBuffer())
    val s = taskSums.getOrElse(group, new Array[Double](7))
    OpStats(jobs.size, union(jobs.toSeq), planMs.getOrElse(group, 0L) / 1e3,
      tasks.size, s(0), s(1), s(2), s(3), s(4), s(5), s(6),
      if (tasks.isEmpty) 0 else peak(tasks.toSeq))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  /** Block until no job is active and every queued listener event has
    * been delivered, so counters read next belong to finished work only. */
  def drain(spark: SparkSession): Unit = {
    val st = spark.sparkContext.statusTracker
    while (st.getActiveJobIds().nonEmpty) Thread.sleep(2)
    org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)
  }
}
