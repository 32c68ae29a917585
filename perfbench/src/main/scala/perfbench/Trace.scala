package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. `parent` is the span that caused
  * it (0 = none) and `request` groups the spans of one client operation.
  * `outcome` is "ok", "conflict" or "error"; `n` counts what the call
  * moved (messages returned, user bytes appended, ...). */
final case class Span(
    id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long, outcome: String, n: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: with tracing off a traced
  * call costs one volatile read, so end-to-end runs are not perturbed.
  * Spans are kept in memory and written out once, when the run ends. */
object Trace {
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  private val closed = new ThreadLocal[Span]

  def newRequest(): Long = ids.incrementAndGet()

  /** The span this thread closed last (traced runs only), e.g. the read
    * whose page a subscription is now delivering. */
  def lastClosed: Option[Span] = Option(closed.get)

  /** (span id, request id) of the innermost open span on this thread. */
  def current: Option[(Long, Long)] = stack.get.headOption

  /** Time `f` as span `name`. `n` sizes the result; a
    * WrongExpectedVersionException is recorded as a conflict and any
    * other exception as an error, and rethrown. `parent` overrides the
    * thread's open span, for work one thread does on another's behalf. */
  def span[A](name: String, parent: Option[(Long, Long)] = None)(n: A => Long)(f: => A): A =
    if (!enabled) f
    else {
      val (pid, req) = parent.orElse(current).getOrElse((0L, newRequest()))
      val id = ids.incrementAndGet()
      stack.set((id, req) :: stack.get)
      val t0 = System.nanoTime()
      try {
        val out = f
        val s = Span(id, pid, req, name, t0, System.nanoTime(), "ok", n(out))
        spans.add(s)
        closed.set(s)
        out
      } catch {
        case e: graft.core.WrongExpectedVersionException =>
          spans.add(Span(id, pid, req, name, t0, System.nanoTime(), "conflict", 0L)); throw e
        case e: Throwable =>
          spans.add(Span(id, pid, req, name, t0, System.nanoTime(), "error", 0L)); throw e
      } finally stack.set(stack.get.tail)
    }

  def all: Vector[Span] = spans.asScala.toVector
  def named(name: String): Vector[Span] = all.filter(_.name == name)

  def reset(): Unit = spans.clear()

  /** Write every span as one JSON line: name, start, end, parent, request. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Main.json.writeValueAsString(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "request" -> s.request, "outcome" -> s.outcome, "n" -> s.n)))
      w.newLine()
    } finally w.close()
  }
}
