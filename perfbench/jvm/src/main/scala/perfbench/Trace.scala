package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are `System.nanoTime` values;
  * `parent` is the id of the span that caused this one (0 = none). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long, runId: String) {
  def durNs: Long = end - start
}

/** In-memory span recorder for the traced run. Spans nest per thread
  * through a thread-local stack; a thread started inside a span names
  * that span as its root's parent explicitly. Disabled, [[span]] is a
  * plain call. Spans are only read after the run ends. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String, layer: String, parent: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, p, name, layer, t0, t1, runId))
      }
    }

  /** An id for a span recorded later with [[record]] (0 when disabled),
    * so that spans on other threads can name it as their parent. */
  def reserve(): Long = if (enabled) ids.incrementAndGet() else 0L

  /** Record a span measured elsewhere (e.g. a micro-batch phase taken
    * from Spark's progress report); returns its id. */
  def record(name: String, layer: String, parent: Long,
             start: Long, end: Long, id: Long = -1L): Long =
    if (!enabled) 0L
    else {
      val i = if (id > 0) id else ids.incrementAndGet()
      spans.add(Span(i, parent, name, layer, start, end, runId))
      i
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
}

object Trace {
  /** Self time of each span: its duration minus the part of it that its
    * children's intervals cover (overlapping children count once). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer, in ms. */
  def layerSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e6
    }
  }

  def toJson(spans: Seq[Span], t0: Long): String =
    spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.start - t0) / 1e6,
        "end_ms" -> (s.end - t0) / 1e6, "run_id" -> s.runId)
    }.mkString("[", ",\n", "]")
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case Raw(j) => j
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String)
}
