package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): JsonNode = mapper.readTree(s)
}

/** One run's settings, as the command line gives them. */
final case class Settings(workload: String, seed: Long, seconds: Int,
    trace: Boolean, root: java.nio.file.Path, work: java.nio.file.Path,
    out: java.nio.file.Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Closed-loop clients: four, as stac-fastapi callers that each wait
    * for their reply, but never more than the cores. */
  val clients: Int = math.min(4, cores)
}

/** Latencies and failures of a workload's timed operations. An
  * operation fails when it throws or when its output is wrong. */
final class Ops {
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  private val failures = new ConcurrentLinkedQueue[String]()

  def record(kind: String, ms: Double): Unit = samples.add((kind, ms))
  def fail(what: String): Unit = failures.add(what)

  /** Time `f` as one operation of `kind`; a throw counts as a failure. */
  def timed[T](kind: String)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = f
      record(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception =>
        record(kind, (System.nanoTime() - t0) / 1e6)
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def all: Seq[(String, Double)] = samples.asScala.toSeq
  def latencies: Seq[Double] = all.map(_._2)
  def failed: Seq[String] = failures.asScala.toSeq
}

object Stats {
  /** Nearest-rank percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Int = math.max(50, math.floor(100.0 * (n - 10) / n).toInt)

  /** Heap in use after a forced full collection, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** The timed phase's clocks: wall time, and the CPU time the whole JVM
  * (Spark driver and executor threads, JIT, GC) spent in it. */
final class Phase {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val w0 = System.nanoTime()
  private val c0 = os.getProcessCpuTime
  private var w1, c1 = 0L
  def stop(): Unit = { w1 = System.nanoTime(); c1 = os.getProcessCpuTime }
  def wallS: Double = (w1 - w0) / 1e9
  def cpuS: Double = (c1 - c0) / 1e9
}

/** What a workload returns: the end-to-end numbers of its timed phase,
  * the per-layer numbers of a traced run, and details for the log. */
final case class Outcome(attempted: Long, failures: Seq[String],
    endToEnd: Map[String, Double], layers: Map[String, Double],
    info: Map[String, Any])

object Outcome {
  /** The end-to-end metrics every workload reports, over its timed
    * phase: latency percentiles of the operations whose kind `measured`
    * accepts, and all operations per second and their JVM CPU time. */
  def endToEnd(ops: Ops, measured: String => Boolean, phase: Phase,
      setupS: Double, heapMb: Double): (Map[String, Double], Map[String, Any]) = {
    val wallS = phase.wallS
    val lat = ops.all.collect { case (k, ms) if measured(k) => ms }
    val tail = Stats.tailPct(lat.size)
    (Map(
      "setup_s" -> setupS,
      "p50_ms" -> Stats.median(lat),
      "tail_ms" -> Stats.pct(lat, tail),
      "ops_per_s" -> ops.all.size / wallS,
      "cpu_ms_per_op" -> phase.cpuS * 1000 / ops.all.size,
      "retained_heap_mb" -> heapMb),
      Map("ops" -> ops.all.size, "latency_samples" -> lat.size, "tail_pct" -> tail,
        "timed_s" -> wallS,
        "by_kind" -> ops.all.groupBy(_._1).map { case (k, v) =>
          k -> Map("n" -> v.size, "p50_ms" -> Stats.median(v.map(_._2)))
        }))
  }
}
