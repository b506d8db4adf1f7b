package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one operation (a pass, a micro-batch, a
  * query) share `op`; `parent` is 0 for an operation's root span. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once when the run ends. Recording
  * happens only while `on` is set, so a traced run can alternate traced
  * and untraced operations and measure its own overhead. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  @volatile var on: Boolean = enabled

  def newId(): Long = ids.incrementAndGet()

  /** Run `f` inside a span; `f` receives the span id for its children. */
  def span[T](name: String, op: Long, parent: Long)(f: Long => T): T = {
    if (!on) return f(0L)
    val id = newId()
    val t0 = System.nanoTime()
    try f(id)
    finally spans.add(Span(id, op, parent, name, t0, System.nanoTime()))
  }

  /** Record an interval measured elsewhere (e.g. by a Spark listener). */
  def record(name: String, op: Long, parent: Long, startNs: Long,
      endNs: Long): Long = {
    if (!on) return 0L
    val id = newId()
    spans.add(Span(id, op, parent, name, startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: summed self time in ms, i.e. each span's duration minus
    * the part of its interval that its children cover. */
  def selfTimesMs: Map[String, Double] = Trace.selfTimesMs(all)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      val o = Json.mapper.createObjectNode()
      o.put("id", s.id).put("op", s.op).put("parent", s.parent).put("name", s.name)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
      Json.mapper.writeValueAsString(o)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  def selfTimesMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionNs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e6
      }.sum
    }
  }

  /** Total length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
