package graft.operators

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The contract of [[Par.all]] / [[Par.concurrently]], the engine's one
  * thread-pool helper: concurrent thunks, results in thunk order, every
  * thunk finished before a failure propagates, the first failure in
  * thunk order wins. No Spark needed. */
class ParSpec extends AnyFunSuite {

  test("thunks run at the same time and their results come back in thunk order") {
    val n = 4
    // every thunk waits for all the others: a sequential run would time out
    val barrier = new CyclicBarrier(n)
    val out = Par.all((0 until n).map { i => () =>
      barrier.await(10, TimeUnit.SECONDS)
      Thread.sleep(10L * (n - i)) // the first thunk finishes last
      i * 10
    }: _*)
    assert(out === Seq(0, 10, 20, 30))
  }

  test("a sibling's failure does not cut a slow thunk short") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.concurrently(
        () => throw new IllegalStateException("fast"),
        () => { Thread.sleep(300); done.set(true) })
    }
    assert(e.getMessage === "fast")
    assert(done.get, "the slow thunk was abandoned")
  }

  test("the first failure in thunk order is thrown, not the first in time") {
    val laterFailed = new CountDownLatch(1)
    val e = intercept[RuntimeException] {
      Par.all(
        () => {
          assert(laterFailed.await(10, TimeUnit.SECONDS))
          Thread.sleep(50)
          throw new RuntimeException("first in order")
        },
        () => 1,
        () => { laterFailed.countDown(); throw new RuntimeException("first in time") })
    }
    assert(e.getMessage === "first in order")
  }

  test("a single thunk runs on the caller's thread") {
    val caller = Thread.currentThread()
    assert(Par.all(() => Thread.currentThread()) === Seq(caller))
    assert(Par.all[Int]() === Nil)
  }
}
