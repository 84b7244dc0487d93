package perfbench

import scala.collection.mutable

/** In-memory spans and counters of a traced run, written out as JSON when
  * the run ends. A span is (id, name, start, end, parent); times are epoch
  * milliseconds. Untraced runs never create a tracer.
  */
final class Tracer {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  /** Times `body` as a span whose parent is the span open on this thread. */
  def span[A](name: String)(body: => A): A = {
    val parent = current.get
    val s = synchronized {
      val s = Span(spans.size, name, parent, System.currentTimeMillis(), -1L)
      spans += s
      s
    }
    current.set(s.id)
    try body finally { s.end = System.currentTimeMillis(); current.set(parent) }
  }

  /** Records a span timed elsewhere, e.g. a micro-batch from its progress. */
  def record(name: String, start: Long, end: Long): Unit = synchronized {
    spans += Span(spans.size, name, -1, start, end)
  }

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def set(name: String, v: Double): Unit = synchronized { counters(name) = v }

  def toJson: String = synchronized {
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start":${s.start},"end":${s.end}}""")
    val cs = counters.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    ss.mkString("{\"spans\":[", ",", "],") + cs.mkString("\"counters\":{", ",", "}}")
  }
}

object Tracer {
  private final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
