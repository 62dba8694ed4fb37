package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is one call into a layer: name, start and end in epoch
  * milliseconds (sub-millisecond precision, on the same clock Spark
  * stamps its listener events with), the span that caused it, and the
  * operation it belongs to. Spans stay in memory and are written once,
  * when the run ends. With tracing off every call is a pass-through.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  // nanoTime gives durations; one offset maps it onto epoch ms so
  // spans line up with Spark's event timestamps
  private val offsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs

  /** Root span of one operation. */
  def op[T](name: String, opId: Long)(f: => T): T =
    if (!on) f else run(name, Some(opId), f)

  /** Child of the calling thread's current span. */
  def span[T](name: String)(f: => T): T =
    if (!on) f else run(name, None, f)

  private def run[T](name: String, opId: Option[Long], f: => T): T = {
    val parent = stack.get.headOption
    val s = Span(nextId.incrementAndGet(), name,
      opId.orElse(parent.map(_.op)).getOrElse(-1L),
      parent.map(_.id).getOrElse(0L), nowMs, Double.NaN)
    stack.set(s :: stack.get)
    try f
    finally {
      stack.set(stack.get.tail)
      s.endMs = nowMs
      spans.synchronized { spans += s }
    }
  }

  /** A span observed elsewhere (a Spark job or Catalyst phase): it is
    * parented to the innermost recorded span that contains it. */
  def addObserved(name: String, startMs: Double, endMs: Double): Unit =
    if (on) spans.synchronized {
      val within = spans.filter(p => p.startMs <= startMs && startMs <= p.endMs)
      val parent = if (within.isEmpty) None else Some(within.maxBy(_.startMs))
      spans += Span(nextId.incrementAndGet(), name,
        parent.map(_.op).getOrElse(-1L), parent.map(_.id).getOrElse(0L),
        startMs, endMs)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span id: its duration minus the part of its
    * interval that its children cover. */
  def selfMs: Map[Long, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }

  /** Spans named `name`. */
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s =>
      w.write(Json.write(Map(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id))))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, name: String, op: Long, parent: Long,
      startMs: Double, var endMs: Double) {
    def durMs: Double = endMs - startMs
  }
}
