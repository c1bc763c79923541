package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** One timed call into an engine layer. `op` is shared by every span of
  * one operation; `parent` is the id of the enclosing span, or -1.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When off, `span` only runs its body, so the
  * untraced run pays nothing for it. Spans open on the calling thread
  * nest under that thread's innermost open span; a thread that opens
  * none (the streaming micro-batch thread) nests under the span that
  * was innermost on the thread that started it, via `adopt`.
  */
final class Tracer(@volatile var on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  /** Local property carrying the innermost span id into every Spark job
    * submitted under it, so the listener can attribute the job.
    */
  val Key = "perfbench.span"

  private def setProperty(id: Option[Int]): Unit =
    org.apache.spark.PerfbenchBus.active.foreach(
      _.setLocalProperty(Key, id.map(_.toString).orNull))

  def newOp(): Int = ids.incrementAndGet()

  def span[A](name: String, op: Int)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(-1)
      stack.set(id :: outer)
      setProperty(Some(id))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        setProperty(outer.headOption)
        spans.synchronized(spans += Span(id, op, name, parent, t0, t1))
      }
    }

  /** The innermost open span of this thread, to hand to another thread. */
  def current: Option[Int] = stack.get().headOption

  /** Runs `body` with `ctx` as this thread's innermost span. */
  def adopt[A](ctx: Option[Int])(body: => A): A =
    if (!on || ctx.isEmpty) body
    else {
      val outer = stack.get()
      stack.set(ctx.get :: outer)
      try body finally stack.set(outer)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Span time not covered by the span's children. */
  def selfSeconds(s: Span, byParent: Map[Int, Seq[Span]]): Double =
    s.seconds - byParent.getOrElse(s.id, Nil).map(_.seconds).sum
}
