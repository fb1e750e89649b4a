package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The harness's concurrent-action helpers surface the first action's
  * failure only once every other action has finished — an orphaned job
  * must not keep reading inputs the caller's `finally` deletes. */
class InParallelSpec extends AnyFunSuite {

  private def slow(done: AtomicBoolean): Int = { Thread.sleep(400); done.set(true); 1 }

  test("inParallel: a failing first action rethrows only after the second finished") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      SparkEntry.inParallel(throw new IllegalStateException("a failed"), slow(bDone))
    }
    assert(e.getMessage == "a failed")
    assert(bDone.get, "b was still running when a's exception reached the caller")
  }

  test("inParallel3: a failing first action rethrows only after both others finished") {
    val bDone = new AtomicBoolean(false)
    val cDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      SparkEntry.inParallel3(throw new IllegalStateException("a failed"),
        slow(bDone), slow(cDone))
    }
    assert(e.getMessage == "a failed")
    assert(bDone.get && cDone.get)
  }

  test("inParallel: results come back in argument order; a's failure wins over b's") {
    assert(SparkEntry.inParallel(1, "b") == ((1, "b")))
    assert(SparkEntry.inParallel3(1, "b", 3.0) == ((1, "b", 3.0)))
    val e = intercept[IllegalStateException] {
      SparkEntry.inParallel(throw new IllegalStateException("a"),
        throw new IllegalArgumentException("b"))
    }
    assert(e.getMessage == "a")
  }
}
