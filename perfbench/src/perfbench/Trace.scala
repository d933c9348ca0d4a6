package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent and query id. With tracing off `span` only runs
  * the body. Spans are written out once, when the run ends.
  */
final class Trace(val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, query: String,
                        startNs: Long, var endNs: Long)

  val spans = ArrayBuffer[Span]()
  /** Sizes the spans need for rates: rows, samples, repetitions. */
  val counts = scala.collection.mutable.Map[String, Double]()
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  private var open = List.empty[Span]
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  /** Epoch milliseconds of a `System.nanoTime` reading, to match listener stamps. */
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def span[T](name: String, query: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        if (query.nonEmpty) query else open.headOption.map(_.query).getOrElse(""),
        System.nanoTime(), -1L)
      spans += s
      open = s :: open
      try body finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  /** Duration minus the part of it that child spans cover, in seconds. */
  def selfSeconds(s: Span): Double = {
    val child = spans.iterator.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
    (s.endNs - s.startNs - child) / 1e9
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "query" -> s.query, "start_ms" -> epochMs(s.startNs),
        "end_ms" -> epochMs(s.endNs), "self_s" -> selfSeconds(s))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val off = new Trace(false)
}
