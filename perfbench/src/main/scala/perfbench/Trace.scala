package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use as well.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder: spans are kept until the run ends and written
  * out once, so recording costs an append. Disabled, it records nothing and
  * `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val buf = ArrayBuffer.empty[Span]

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) buf.synchronized { buf += s; () }

  /** Runs `f` inside a span with a fresh id, returning its result and the
    * span id (0 when disabled).
    */
  def span[T](name: String, layer: String, parent: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = nextId()
      val t0 = nowMs()
      try f(id)
      finally add(Span(id, parent, name, layer, t0, nowMs()))
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.layer -> (s.durMs - covered(kids, s.startMs, s.endMs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Share of the roots' wall time that their child spans cover. */
  def coverage(spans: Seq[Span], roots: Seq[Span]): Double = {
    val children = spans.groupBy(_.parent)
    val wall = roots.map(_.durMs).sum
    if (wall <= 0) 0.0
    else roots.map { r =>
      covered(children.getOrElse(r.id, Nil).map(c => (c.startMs, c.endMs)),
        r.startMs, r.endMs)
    }.sum / wall
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** A finite double with all its digits (JSON has no NaN/Infinity). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
