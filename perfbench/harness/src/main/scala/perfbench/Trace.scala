package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * scale as the timestamps Spark puts in streaming progress reports.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder. A span has a name, start, end, parent and the
  * run id; spans opened on one thread nest under that thread's open span.
  * With tracing off, `apply` only runs the body.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
      endMs: Double, thread: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = Clock.nowMs()
      try body
      finally {
        open.set(open.get.tail)
        spans.add(Span(id, parent, name, t0, Clock.nowMs(), Thread.currentThread.getName))
      }
    }

  def toJsonLines: Iterator[String] = spans.asScala.iterator.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "thread" -> s.thread, "run" -> runId)
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
