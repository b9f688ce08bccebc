package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is -1 for a root; all spans of one request
  * (or batch row) share `requestId`. Times are `System.nanoTime` values. */
final case class Span(
    id: Int, parent: Int, requestId: Int, name: String, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * once, so recording costs no I/O while requests are timed. */
final class Tracer {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Times `body` as a span named `name`; `body` receives the new span's id
    * so that nested calls can name it as their parent. */
  def span[T](name: String, requestId: Int, parent: Int = -1)(body: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      synchronized { buf += Span(id, parent, requestId, name, t0, t1) }
    }
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  def writeJsonLines(path: Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.requestId}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Spans {

  /** Self time: the span's duration minus the part of it that its children
    * cover. Overlapping children count once; parts of a child outside the
    * parent's interval do not count. */
  def selfTimeNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }

  /** Self time of every span, keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfTimeNs(s, byParent.getOrElse(s.id, Nil))).toMap
  }

  /** Per span name: (span count, total self time in ms, median self time in ms). */
  def selfTimeTable(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val ms = ss.map(s => self(s.id) / 1e6)
      (name, ss.size, ms.sum, Stats.median(ms))
    }
  }
}
