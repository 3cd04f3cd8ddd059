package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.jobs]]'s contract: results in thunk order, the first failure
  * propagates, a failed call leaves none of its Spark jobs running,
  * and it leaves the session usable for the next one.
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

  test("a failed fan-out cancels its siblings' running Spark jobs") {
    // each task sleeps up to 10 s in 50 ms steps and ends early once
    // killed, so a cancelled job frees its cores at once
    val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
      val ctx = org.apache.spark.TaskContext.get()
      var i = 0
      while (i < 200 && !ctx.isInterrupted()) { Thread.sleep(50); i += 1 }
      x
    }
    val tracker = spark.sparkContext.statusTracker
    intercept[IllegalStateException] {
      Par.jobs(
        () => { Thread.sleep(1000); throw new IllegalStateException("boom") },
        () => spark.range(0, 2, 1, 2)
          .select(slow(org.apache.spark.sql.functions.col("id"))).collect())
    }
    val deadline = System.nanoTime() + 1500L * 1000 * 1000
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(tracker.getActiveJobIds().isEmpty,
      "a sibling's job outlived the failed fan-out")
  }
}
