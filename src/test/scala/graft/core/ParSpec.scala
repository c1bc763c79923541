package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[Par]]'s failure and thread-lifetime contract: join2 surfaces a
  * failure from either side only after both sides settled, and bg's
  * worker can never keep the JVM alive.
  */
class ParSpec extends AnyFunSuite {

  test("join2 rethrows a failing b instead of swallowing it") {
    val e = intercept[IllegalStateException] {
      Par.join2(1, throw new IllegalStateException("b failed"))
    }
    assert(e.getMessage == "b failed")
  }

  test("join2 waits for b before rethrowing a's failure, and keeps " +
    "b's failure as suppressed") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Par.join2(throw new IllegalArgumentException("a failed"), {
        Thread.sleep(200)
        bDone.set(true)
        throw new IllegalStateException("b failed")
      })
    }
    assert(e.getMessage == "a failed")
    assert(bDone.get, "join2 rethrew before b settled")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
  }

  test("an uninvoked bg thunk leaves no non-daemon thread behind") {
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val worker = new java.util.concurrent.atomic.AtomicReference[Thread]
    Par.bg {
      worker.set(Thread.currentThread)
      started.countDown()
      release.await()
    } // the result thunk is dropped, never invoked
    try {
      assert(started.await(10, TimeUnit.SECONDS))
      assert(worker.get.isDaemon)
      assert((nonDaemon() -- before).isEmpty)
    } finally release.countDown()
  }
}
