package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of the traced run. A workload reports the layers
  * it calls; perfbench/run.py checks them against BENCHMARK.json and
  * perfbench/metrics.json. */
object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Mean duration of the spans named `name`, in ms. */
  def meanMs(trace: Trace, name: String): Double = mean(trace.named(name).map(_.durMs))

  /** Spark runtime metrics per operation over [fromMs, toMs] — or, when
    * `within` names a span, over those spans only — plus the fixed cost
    * of a trivial query. Spark's jobs and Catalyst phases join the trace
    * as observed spans. */
  def fromProbe(spark: SparkSession, probe: SparkProbe, trace: Trace,
      fromMs: Double, toMs: Double, within: String, ops: Int): Map[String, Double] = {
    probe.drain()
    val t =
      if (within.isEmpty) probe.window(fromMs, toMs)
      else probe.windows(trace.named(within))
    probe.observedSpans(fromMs, toMs).foreach { case (n, a, b) => trace.addObserved(n, a, b) }
    val floor = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e6
    }
    val n = math.max(1, ops).toDouble
    Map(
      "catalyst.analyze_ms" -> t.analysisMs / n,
      "catalyst.optimize_ms" -> t.optimizeMs / n,
      "catalyst.plan_ms" -> t.planMs / n,
      "spark.jobs_per_op" -> t.jobs / n,
      "spark.stages_per_op" -> t.stages / n,
      "spark.tasks_per_op" -> t.tasks / n,
      "spark.job_ms" -> t.jobMs / math.max(1, t.jobs),
      "spark.floor_ms" -> Stats.median(floor),
      "spark.task_run_ms" -> t.taskRunMs / n,
      "spark.task_cpu_ms" -> t.taskCpuMs / n,
      "spark.gc_ms" -> t.gcMs / n,
      "spark.shuffle_read_bytes" -> t.shuffleReadBytes / n,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "spark.spill_bytes" -> t.spillBytes / n,
      "spark.result_bytes" -> t.resultBytes / n,
      "plans.global_windows" -> t.globalWindows.toDouble)
  }
}
