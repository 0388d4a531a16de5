package perfbench

import scala.collection.mutable

/** One recorded span: a timed call into a layer. `parent` is the index of
  * the enclosing span (-1 at the top), `op` the op it belongs to. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, op: Long)

/** In-memory span recorder for the traced run. Disabled, [[span]] only
  * runs its body. Workloads enable it for their traced ops (and the
  * reader calls after them) only, never during set-up. Spans are written
  * out when the run ends. */
final class Tracer {
  var enabled: Boolean = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var op = -1L

  def startOp(id: Long): Unit = op = id

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L,
        open.headOption.getOrElse(-1), op)
      open.push(idx)
      try body
      finally {
        open.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part its direct children cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childNs = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0)
      childNs(s.parent) += s.endNs - s.startNs)
    spans.zipWithIndex.groupBy(_._1.name).map { case (n, ss) =>
      val tot = ss.map { case (s, _) => s.endNs - s.startNs }.sum
      val self = ss.map { case (s, i) => s.endNs - s.startNs - childNs(i) }.sum
      n -> (ss.size, tot / 1e6, self / 1e6)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      Json.obj("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "op" -> s.op)
    }
    java.nio.file.Files.write(path,
      java.util.Arrays.asList(lines.toSeq: _*))
  }
}

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => s"${str(k)}:${value(x)}" }.mkString("{", ",", "}")
}
