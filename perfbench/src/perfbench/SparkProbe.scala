package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime observer for the traced run, attached from outside the
  * engine through Spark's public listener hooks: a
  * `QueryExecutionListener` for Catalyst phase times (from
  * `QueryExecution.tracker`) and executed plans, and a `SparkListener`
  * for jobs, stages and task metrics. Every record keeps its driver
  * timestamp; `window` sums the records that fall inside a time
  * interval, which attributes them when operations run one at a time.
  */
final class SparkProbe private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private val execs = ArrayBuffer.empty[Exec]
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Long] // completion times
  private val tasks = ArrayBuffer.empty[Task]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  @volatile private var sentinel: Option[(Int, CountDownLatch)] = None

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n)
      .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    val windows =
      try PlanWalk.globalWindows(qe.executedPlan)
      catch { case _: Exception => 0 }
    synchronized {
      execs += Exec(phase("analysis"), phase("optimization"),
        phase("planning"), windows)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    if (Option(e.properties).exists(_.getProperty(SentinelKey) != null))
      sentinel = sentinel.map { case (_, l) => (e.jobId, l) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
    }
    sentinel.foreach { case (id, latch) => if (id == e.jobId) latch.countDown() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      e.stageInfo.completionTime.foreach(t => stages += t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.launchTime, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        if (e.taskType == "ResultTask") m.resultSize else 0L,
        m.inputMetrics.recordsRead)
    }
  }

  /** Block until every event posted before this call has been handled:
    * run a marked job and wait for its end event, which the listener
    * bus delivers after all earlier events. */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    sentinel = Some((-1, latch))
    val sc = spark.sparkContext
    sc.setLocalProperty(SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    latch.await(30, TimeUnit.SECONDS)
    sentinel = None
  }

  /** Totals over the records stamped inside [fromMs, toMs]. */
  def window(fromMs: Double, toMs: Double): Totals =
    totals(t => fromMs <= t && t <= toMs)

  /** Totals over the records stamped inside any of `spans`. */
  def windows(spans: Seq[Trace.Span]): Totals =
    totals(t => spans.exists(s => s.startMs <= t && t <= s.endMs))

  private def totals(in: Double => Boolean): Totals = synchronized {
    val ex = execs.filter(e => e.analysis.orElse(e.optimization)
      .orElse(e.planning).exists(p => in(p._1)))
    def phaseMs(f: Exec => Option[(Double, Double)]) =
      ex.flatMap(f).map(p => p._2 - p._1).sum
    val js = jobs.filter(j => in(j.startMs.toDouble))
    val ts = tasks.filter(t => in(t.launchMs.toDouble))
    Totals(
      analysisMs = phaseMs(_.analysis),
      optimizeMs = phaseMs(_.optimization),
      planMs = phaseMs(_.planning),
      globalWindows = ex.map(_.globalWindows).sum,
      jobs = js.size,
      jobMs = js.map(j => (j.endMs - j.startMs).toDouble).sum,
      stages = stages.count(t => in(t.toDouble)),
      tasks = ts.size,
      taskRunMs = ts.map(_.runMs).sum.toDouble,
      taskCpuMs = ts.map(_.cpuMs).sum.toDouble,
      gcMs = ts.map(_.gcMs).sum.toDouble,
      shuffleReadBytes = ts.map(_.shuffleRead).sum.toDouble,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum.toDouble,
      spillBytes = ts.map(_.spill).sum.toDouble,
      resultBytes = ts.map(_.resultBytes).sum.toDouble,
      inputRecords = ts.map(_.inputRecords).sum.toDouble)
  }

  /** Jobs and Catalyst phases inside [fromMs, toMs], as observed spans. */
  def observedSpans(fromMs: Double, toMs: Double)
      : Seq[(String, Double, Double)] = synchronized {
    def in(t: Double) = fromMs <= t && t <= toMs
    val js = jobs.filter(j => in(j.startMs.toDouble))
      .map(j => ("spark.job", j.startMs.toDouble, j.endMs.toDouble))
    val ps = execs.toSeq.flatMap { e =>
      Seq("catalyst.analyze" -> e.analysis, "catalyst.optimize" -> e.optimization,
        "catalyst.plan" -> e.planning).collect {
        case (n, Some((a, b))) if in(a) => (n, a, b)
      }
    }
    js.toSeq ++ ps
  }
}

object SparkProbe {
  private val SentinelKey = "perfbench.sentinel"

  final case class Exec(analysis: Option[(Double, Double)],
      optimization: Option[(Double, Double)],
      planning: Option[(Double, Double)], globalWindows: Int)
  final case class Job(startMs: Long, endMs: Long)
  final case class Task(launchMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, resultBytes: Long,
      inputRecords: Long)

  final case class Totals(analysisMs: Double,
      optimizeMs: Double, planMs: Double, globalWindows: Int, jobs: Int,
      jobMs: Double, stages: Int, tasks: Int, taskRunMs: Double,
      taskCpuMs: Double, gcMs: Double, shuffleReadBytes: Double,
      shuffleWriteBytes: Double, spillBytes: Double, resultBytes: Double,
      inputRecords: Double)

  def attach(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** `WindowExec` nodes with an empty partition spec: every row of the
    * input moves to one task. */
  object PlanWalk extends AdaptiveSparkPlanHelper {
    def globalWindows(plan: SparkPlan): Int =
      collect(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }.size
  }
}
