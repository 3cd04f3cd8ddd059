package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.jobs]]'s contract: results in thunk order, the first failure
  * propagates, and a failed call leaves the session usable for the
  * next one.
  */
class ParSpec extends AnyFunSuite {
  import TestSpark._

  private def sumTo(n: Long): Long =
    spark.range(n + 1).selectExpr("sum(id)").head().getLong(0)

  test("results come back in thunk order") {
    // the first thunk finishes last: completion order is not result order
    val got = Par.jobs(
      () => { Thread.sleep(300); sumTo(10) },
      () => sumTo(100),
      () => { Thread.sleep(100); sumTo(1000) },
      () => sumTo(5))
    assert(got === Seq(55L, 5050L, 500500L, 15L))
  }

  test("a failing thunk's exception propagates") {
    val e = intercept[IllegalStateException] {
      Par.jobs(
        () => sumTo(10),
        () => throw new IllegalStateException("thunk 2 failed"),
        () => sumTo(100))
    }
    assert(e.getMessage === "thunk 2 failed")
  }

  test("the next call on the same session returns correct results") {
    intercept[IllegalStateException] {
      Par.jobs(
        () => { Thread.sleep(200); sumTo(10) },
        () => throw new IllegalStateException("boom"))
    }
    assert(Par.jobs(() => sumTo(10), () => sumTo(100), () => sumTo(20)) ===
      Seq(55L, 5050L, 210L))
  }
}
