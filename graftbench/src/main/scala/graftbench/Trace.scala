package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are `System.nanoTime`.
  * `parent` is the id of the enclosing span, or -1 for a root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long) {
  def duration: Long = end - start
}

/** In-memory span recorder. Spans are recorded only while `on`; with
  * tracing off every `span` call is a plain call of its body. Single
  * threaded: spans come from the benchmark's client thread, and Spark
  * jobs are attached afterwards with [[attach]]. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** Whether the current op is traced (a traced run interleaves traced
    * and untraced ops to measure the tracing overhead). */
  var on: Boolean = enabled
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.length
      spans += null // reserve the id; filled in when the body returns
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, start, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record an interval measured elsewhere (a Spark job) under the
    * innermost recorded span of `op` that contains its start. */
  def attach(name: String, op: Int, start: Long, end: Long): Unit = {
    val parent = spans.iterator
      .filter(s => s != null && s.op == op && s.start <= start && start < s.end)
      .toSeq.sortBy(_.duration).headOption.map(_.id).getOrElse(-1)
    spans += Span(spans.length, parent, op, name, start, end)
  }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  def opSpans(op: Int): Seq[Span] = all.filter(_.op == op)

  /** Write every span as one JSON document. */
  def write(path: java.nio.file.Path, meta: Map[String, String]): Unit = {
    val sb = new StringBuilder
    sb ++= "{"
    meta.toSeq.sortBy(_._1).foreach { case (k, v) => sb ++= Json.str(k) ++= ":" ++= Json.str(v) ++= "," }
    sb ++= "\"spans\":[\n"
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object SelfTime {

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (children may overlap each other, as
    * concurrent Spark jobs do). */
  def of(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - Stats.unionLength(Stats.clip(kids, s.start, s.end)))
    }.toMap
  }

  /** Self time summed per span name. */
  def byName(spans: Seq[Span]): Map[String, Long] = {
    val self = of(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** The part of a root span's wall time that no child span explains. */
  def unexplained(root: Span, spans: Seq[Span]): Long = of(
    spans.filter(s => s.id == root.id || s.parent == root.id))(root.id)
}

/** Minimal JSON string quoting for the benchmark's own output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
