package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Each generated class is compiled once per JVM ([[Tables.configure]]):
  * a plan already compiled in one session compiles nothing in a
  * `newSession()` child (corpus_build's per-rep sessions, the streaming
  * drain session, q19's child), and the codegen cache holds more than
  * Spark's default 100 entries. Both read the JVM-wide count of Janino
  * compiles around a re-run.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  private def compiles[A](f: => A): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** An aggregation over a join, with a literal (`m`) no other suite
    * compiles, so its first run compiles classes on the driver and in
    * the tasks.
    */
  private def plan(s: SparkSession, m: Long): DataFrame =
    s.range(0, 2000).selectExpr(s"id % $m AS k", "id * 3 AS v")
      .join(s.range(0, m).withColumnRenamed("id", "k"), "k")
      .groupBy("k").sum("v")

  test("a plan compiled in one session compiles 0 classes in a newSession() child") {
    assert(compiles(plan(spark, 7919L).collect()) > 0,
      "precondition: the first run compiles")
    val child = spark.newSession()
    // the same plan: a child starts from the context's conf, not the
    // runtime conf set on the suite's session
    child.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(compiles(plan(child, 7919L).collect()) === 0L)
  }

  test("after more than 100 distinct generated plans the first still compiles 0 classes") {
    def distinct(i: Int): DataFrame =
      spark.range(0, 10).selectExpr(s"id * ${7000 + i}L + $i AS x")
    assert(compiles(distinct(0).collect()) > 0,
      "precondition: the first run compiles")
    val others = compiles((1 to 120).foreach(i => distinct(i).collect()))
    assert(others > 100, "precondition: more keys than the 100-entry default")
    assert(compiles(distinct(0).collect()) === 0L)
  }
}
