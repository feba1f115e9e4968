package graft.operators

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** `Concurrent.run` without Spark: results in task order, and a failure
  * surfaces only after every sibling task has finished. */
class ConcurrentSpec extends AnyFunSuite {

  test("results come back in task order, whatever order the tasks finish in") {
    val out = Concurrent.run((0 until 5).map { i =>
      () => { Thread.sleep(10L * (5 - i)); i * i }
    })
    assert(out == Seq(0, 1, 4, 9, 16))
  }

  test("a failing task rethrows only after its slow sibling has finished") {
    val started = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.run(Seq[() => Int](
        () => { started.await(); throw new IllegalStateException("task 0") },
        () => { started.countDown(); Thread.sleep(300); siblingDone.set(true); 1 }))
    }
    assert(e.getMessage == "task 0")
    assert(siblingDone.get(), "the call returned while task 1 was still running")
  }

  test("the first failure in task order wins") {
    val e = intercept[RuntimeException] {
      Concurrent.run(Seq[() => Int](
        () => 0,
        () => { Thread.sleep(100); throw new RuntimeException("task 1") },
        () => throw new RuntimeException("task 2")))
    }
    assert(e.getMessage == "task 1")
  }
}
