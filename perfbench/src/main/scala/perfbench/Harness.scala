package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: its name, wall seconds, whether it ran with
  * tracing on, and the error it threw, if any. */
final case class OpRecord(name: String, seconds: Double, traced: Boolean,
                          error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** State shared by one benchmark process: the session, the span
  * recorder, the scheduler counters (traced runs only), the failures
  * seen, and the per-layer figures a workload reports. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val counters: Option[SchedulerCounters], val seed: Long) {

  /** Failed operations and checks, by name, with the reason. */
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Per-layer metrics, by the names BENCHMARK.json declares. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific user-facing figures, printed by name with units. */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Scheduler counts per span name, summed over traced spans. */
  val countsBySpan = mutable.Map.empty[String, Counts].withDefaultValue(Counts.Zero)

  /** Time `body` as a span named `name`; while tracing, also attribute
    * the scheduler counts it caused to that name. */
  def span[T](name: String)(body: => T): T =
    if (!tracer.enabled || counters.isEmpty) tracer.span(name)(body)
    else {
      val c = counters.get
      val before = c.snapshot()
      val out = tracer.span(name)(body)
      countsBySpan(name) = countsBySpan(name) + (c.snapshot() - before)
      out
    }

  def counts(name: String): Counts = countsBySpan(name)

  /** Spans of traced operations with this name. */
  def spansNamed(name: String): Seq[Span] = tracer.spans.filter(_.name == name)

  def totalSeconds(name: String): Double = spansNamed(name).map(_.durNs).sum / 1e9

  def fail(name: String, reason: String): Unit = {
    failures += (name -> reason)
    System.out.println(s"FAILED $name: $reason")
  }

  /** Run operations until `window` seconds have passed, at least
    * `minOps` have run and their count is a multiple of `unit`. `next(i)`
    * names operation i and returns its body. With `alternate`, groups of
    * `unit` operations run untraced and traced in the order U T T U, so
    * a steady drift (such as the JIT still warming) falls on both sides
    * alike. An operation that throws is recorded as
    * failed and left out of every timing. */
  def measure(window: Double, minOps: Int, unit: Int, alternate: Boolean)(
      next: Int => (String, () => Unit)): Seq[OpRecord] = {
    val out = mutable.ArrayBuffer.empty[OpRecord]
    val start = System.nanoTime()
    var i = 0
    while (i < minOps || i % unit != 0 || (System.nanoTime() - start) / 1e9 < window) {
      tracer.enabled = alternate && Set(1, 2).contains((i / unit) % 4)
      val (name, body) = next(i)
      tracer.request = i.toLong
      val t0 = System.nanoTime()
      val err = try { span("op")(body()); None }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val rec = OpRecord(name, (System.nanoTime() - t0) / 1e9, tracer.enabled, err)
      err.foreach(fail(name, _))
      out += rec
      i += 1
    }
    tracer.enabled = false
    out.toSeq
  }
}
