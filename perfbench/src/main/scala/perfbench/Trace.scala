package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into each layer. A span
  * has a name, the layer it measures, start and end (ns, monotonic), its
  * parent span (0 for none) and the id of the operation it belongs to;
  * spans of one operation share that id.
  */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
  def json: ListMap[String, Any] = ListMap(
    "id" -> id, "name" -> name, "layer" -> layer, "op" -> op,
    "parent" -> parent, "start_ns" -> startNs, "end_ns" -> endNs)
}

object Spans {

  /** Total length of the union of intervals, each clipped to
    * `[from, to)`.
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its child spans cover. Overlapping children count once.
    */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.durationNs - covered(children.map(c => (c.startNs, c.endNs)),
      span.startNs, span.endNs)

  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfTime(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** Records spans when enabled; a disabled tracer runs the body and records
  * nothing. The current span is kept per thread, so concurrent clients
  * each get their own parent chain.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)

  def newOp(): Long = ids.incrementAndGet()

  /** Id of the innermost open span on this thread, 0 outside any span. */
  def currentSpan: Long = Option(current.get()).map(_._1).getOrElse(0L)

  def span[A](name: String, layer: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = Option(current.get())
      val opId = if (op >= 0) op else parent.map(_._2).getOrElse(0L)
      val id = ids.incrementAndGet()
      current.set((id, opId))
      val start = System.nanoTime()
      try body
      finally {
        recorded.add(Span(id, name, layer, opId, parent.map(_._1).getOrElse(0L),
          start, System.nanoTime()))
        parent match {
          case Some(p) => current.set(p)
          case None => current.remove()
        }
      }
    }

  /** Adds a span measured elsewhere (a Spark job) under `parent`. */
  def add(name: String, layer: String, op: Long, parent: Long,
      startNs: Long, endNs: Long): Unit =
    if (enabled)
      recorded.add(Span(ids.incrementAndGet(), name, layer, op, parent,
        startNs, endNs))

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startNs)
}
