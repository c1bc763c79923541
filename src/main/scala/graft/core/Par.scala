package graft.core

/** Overlap independent eager stages from the driver (optimization
  * guide §2.6 "overlap independent jobs"): Spark happily runs several
  * jobs at once inside one application — multi-stage query bodies
  * whose [[Barrier]] cuts are independent of each other
  * only serialize because the driver calls them sequentially.
  * Results are deterministic: each thunk builds the same DataFrame it
  * would have built sequentially; only the JOB SCHEDULE overlaps.
  *
  * Two thunks is deliberate — enough to fill the tail of one chain
  * with the other's work on local[32], not so many that tiny stages
  * fight for task slots (the guide's own "2-3 jobs in flight is
  * plenty").
  */
object Par {

  /** Evaluate `a` (on the caller's thread) and `b` (via [[bg]])
    * concurrently, return both. Both outcomes are observed before
    * anything is rethrown, so neither thunk is still running when
    * join2 throws: if only one failed its exception propagates; if
    * both failed, `a`'s propagates with `b`'s attached as suppressed.
    */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    val fb = bg(b)
    val ra = scala.util.Try(a)
    val rb = scala.util.Try(fb())
    (ra, rb) match {
      case (scala.util.Failure(ea), scala.util.Failure(eb)) =>
        ea.addSuppressed(eb)
        throw ea
      case _ => (ra.get, rb.get)
    }
  }

  /** Start `a` on a background thread NOW; the returned thunk blocks
    * until the result is ready and rethrows `a`'s failure. For the
    * "one stage input is independent of the whole chain" shape
    * (q307's benchmark gram set): kick the build off before stage 1,
    * collect it where the consuming stage needs it. The thread is a
    * daemon, so a thunk nobody collects cannot keep the JVM alive.
    */
  def bg[A](a: => A): () => A = {
    val task = new java.util.concurrent.FutureTask[A](() => a)
    val t = new Thread(task, "graft-par-bg")
    t.setDaemon(true)
    t.start()
    () =>
      try task.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw e.getCause }
  }

  /** Map `f` over `xs` 8-way concurrently on one fixed pool, preserving
    * order; the pool is shut down however `f` ends. The full-surface
    * sweep shape (Verify's dump, Bench's warm-up, the exchange ledger,
    * the tier-1 query sweep): per-item work must be independent and
    * exception-total — wrap its own try/catch when an error is data.
    */
  def sweep8[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(xs)(x =>
        scala.concurrent.Future(f(x))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
}
