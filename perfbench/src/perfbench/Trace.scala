package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch nanoseconds so spans built from
  * Spark listener events (epoch milliseconds) share the clock of spans
  * timed on the benchmark's main thread.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the main thread. Disabled, `span` is a
  * plain call: untraced runs pay nothing for it.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private var on = enabled
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def current: Int = stack.headOption.getOrElse(-1)

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = nowNs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, nowNs)
      }
    }

  /** Runs `f` with recording off: the untraced half of a traced run. */
  def disabled[A](f: => A): A = {
    val was = on
    on = false
    try f finally on = was
  }

  /** Adds a span measured elsewhere (listener events) under `parent`
    * and returns its id.
    */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Int = {
    val id = nextId
    if (on) {
      spans += Span(id, parent, name, startNs, endNs)
      nextId += 1
    }
    id
  }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per span name: each span's duration minus the part of
    * it that its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map(s => s.name -> self(s, children.getOrElse(s.id, Nil).toSeq))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Self seconds of each span named `name`, in recording order. */
  def selfSecondsOf(name: String): Seq[Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.filter(_.name == name).map(s => self(s, children.getOrElse(s.id, Nil).toSeq))
  }

  private def self(s: Span, children: Seq[Span]): Double = {
    val kids = children
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: Any = Map(
    "run_id" -> runId,
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "self_s" -> selfSeconds)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, w), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(w)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (w, i) => if (i > 0) sb.append(','); go(w) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
