package bench

import scala.collection.mutable.ArrayBuffer

/** One timed call: `parent` is the id of the enclosing span (-1 at the
  * top), `run` names the pass the span belongs to. Times are nanoseconds
  * from the JVM's monotonic clock.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder, written out when the benchmark ends. Spans
  * are recorded only on the thread that opened the trace; with tracing
  * off, [[span]] is a plain call.
  */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var run = ""

  def inRun[T](name: String)(body: => T): T = {
    val saved = run
    run = name
    try body finally run = saved
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, name, t0, System.nanoTime(), run)
      }
    }

  /** Inclusive seconds of one run's spans, by name. */
  def totals(runName: String): Map[String, Double] =
    spans.iterator.filter(_.run == runName).toSeq.groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "run" -> s.run))
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(path, lines)
  }
}
