package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top) and `request` groups the spans of one operation. */
final case class Span(id: Int, parent: Int, name: String, request: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one client thread. When disabled, `span`
  * runs its body and records nothing. */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var request: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        done += Span(id, parent, name, request, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Trace {

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * its direct children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(ch, s.startNs, s.endNs))
    }.toMap
  }

  /** Self seconds summed per span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def toJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "request" -> s.request,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
