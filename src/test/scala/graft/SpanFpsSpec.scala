package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native span_fps/tok_count must be bit- and order-identical to the
  * HOF spellings they replaced in d12 — the oracle SQL still derives
  * from the hex-md5 recipe, so drift here is a silent d12 hash
  * mismatch.
  */
class SpanFpsSpec extends AnyFunSuite {
  import TestSpark._

  private val k = Dedup.spanTokens

  private val hofWinFp =
    s"""CASE WHEN size(toks) < $k THEN CAST(array() AS ARRAY<BIGINT>)
       |ELSE transform(
       |  sequence(1, size(toks) - ${k - 1}),
       |  i -> CAST(conv(substring(md5(array_join(slice(toks, i, $k), ' ')), 1, 15), 16, 10) AS BIGINT))
       |END""".stripMargin

  test("span_fps value- and order-identical to the HOF window chain") {
    val diff = Tables.documents(spark, sfDir)
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
      .withColumn("slow", expr(hofWinFp))
      .withColumn("fast", expr(s"span_fps(text, $k)"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(diff === 0)
  }

  test("span_fps edges: null, short, exact-k, repeated windows kept") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      Option.empty[String],
      Some(""),
      Some((1 until k).map(i => s"w$i").mkString(" ")),   // k-1 tokens
      Some((1 to k).map(i => s"w$i").mkString(" ")),      // exactly k
      Some(Seq.fill(3)((1 to k).map(i => s"w$i").mkString(" "))
        .mkString(" ")))                                  // repeats kept
      .toDF("text")
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
    val bad = docs
      .withColumn("slow", expr(hofWinFp))
      .withColumn("fast", expr(s"span_fps(text, $k)"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(bad === 0)
    assert(docs.filter(col("text").isNull)
      .select(expr(s"span_fps(text, $k)")).head().isNullAt(0))
  }

  test("tok_count equals size(filter(split(lower(text), ' ')))") {
    val s = spark
    import s.implicits._
    val synth = Seq(Some(""), Some(" "), Some("  a  b "), Some("one"),
      Option.empty[String]).toDF("text")
    val frames = Seq(synth, Tables.documents(spark, sfDir).select("text"))
    frames.foreach { df =>
      val bad = df
        .withColumn("slow",
          size(expr("filter(split(lower(text), ' '), t -> t != '')")))
        .withColumn("fast", expr("tok_count(text)"))
        .filter(not(col("fast") <=> col("slow")))
        .count()
      assert(bad === 0)
    }
    // null in, null out (size() of a null array would be -1-free NULL)
    assert(synth.filter(col("text").isNull)
      .select(expr("tok_count(text)")).head().isNullAt(0))
  }

  test("d12 wins-frame n_tok identity: size(span_fps) + k - 1") {
    val diff = Tables.documents(spark, sfDir)
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
      .filter(size(col("toks")) >= k)
      .withColumn("viaFps", size(expr(s"span_fps(text, $k)")) + lit(k - 1))
      .filter(col("viaFps") =!= size(col("toks")))
      .count()
    assert(diff === 0)
  }

  test("interpreted eval matches codegen") {
    val s = spark
    import s.implicits._
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val viaDf = Seq(text).toDF("text")
      .select(expr(s"span_fps(text, $k)")).head().getSeq[Long](0)
    val viaEval = SpanFps(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)), k)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(viaDf === viaEval)
    assert(viaDf.length === 20 - k + 1)
  }
}
