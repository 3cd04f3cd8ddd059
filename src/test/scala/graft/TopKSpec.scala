package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TopKScoreId]] — the bounded-buffer per-group top-k aggregate. */
class TopKSpec extends AnyFunSuite {
  import TestSpark._

  test("keeps the k best with score-desc, id-asc tie-break") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, 0.5, 10L), (1L, 0.9, 11L), (1L, 0.9, 7L), (1L, 0.1, 3L),
      (2L, 0.2, 5L))
      .toDF("g", "s", "i")
    val rows = df.groupBy("g").agg(expr("topk_score_id(s, i, 2)").as("tk"))
      .orderBy("g").collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(r =>
      (r.getDouble(0), r.getLong(1))) === Seq((0.9, 7L), (0.9, 11L)))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1).map(r =>
      (r.getDouble(0), r.getLong(1))) === Seq((0.2, 5L)))
  }

  test("null score or id contributes nothing; all-null group -> empty array") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some(0.4), Some(1L)), (1L, None, Some(2L)), (1L, Some(0.7), None),
      (2L, None, None))
      .toDF("g", "s", "i")
    val rows = df.groupBy("g").agg(expr("topk_score_id(s, i, 3)").as("tk"))
      .orderBy("g").collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(r =>
      (r.getDouble(0), r.getLong(1))) === Seq((0.4, 1L)))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1).isEmpty)
  }

  test("matches the row_number window spelling across a real shuffle") {
    val s = spark
    // deterministic pseudo-random scores over enough partitions that
    // partial buffers + serialize/merge genuinely run
    val df = spark.range(0, 5000).repartition(7)
      .select(pmod(col("id"), lit(23)).as("g"),
        (pmod(hash(col("id")), lit(997))).cast("double").as("sc"),
        col("id").as("i"))
    val win = df.withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(desc("sc"), col("i"))))
      .filter(col("rank") <= 5).select("g", "rank", "sc", "i")
    val agg = df.groupBy("g").agg(expr("topk_score_id(sc, i, 5)").as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rank"),
        col("col.score").as("sc"), col("col.id").as("i"))
    assert(win.exceptAll(agg).count() === 0)
    assert(agg.exceptAll(win).count() === 0)
    assert(agg.count() === 23 * 5)
  }
}
