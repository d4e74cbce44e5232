package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span store. A span has a name, start and end (epoch ns from a
  * monotonic base), the id of the span that caused it (0 for a root) and
  * the id of the op it belongs to, shared by every span of one request or
  * query. Spans are only kept while `on` is set (the traced windows of a
  * traced run); they are written out once, when the run ends.
  */
final class Trace {
  @volatile var on = false
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Time `f` as a span named `name` under the calling thread's innermost
    * open span. With tracing off this is a plain call.
    */
  def span[T](name: String, op: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Clock.nowNs()
      try f
      finally {
        spans.add(Span(id, name, t0, Clock.nowNs(), parent, op))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
}

object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long, op: String)
}

/** Wall clock in nanoseconds that listener event times (epoch ms) can be
  * mapped onto: epoch at JVM start plus the monotonic nanoTime offset.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}
