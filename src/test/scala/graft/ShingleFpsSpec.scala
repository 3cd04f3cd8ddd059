package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native shingle_fps must be BIT-IDENTICAL (values AND order) to the
  * four-HOF spelling `Dedup.shingleFpsExpr` it replaced — the oracle
  * SQL still derives from that recipe, so any drift here is a silent
  * d02/d03/d19-family hash mismatch.
  */
class ShingleFpsSpec extends AnyFunSuite {
  import TestSpark._

  test("value- and order-identical to the HOF spelling on real docs") {
    val diff = Tables.documents(spark, sfDir)
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
      .withColumn("slow", expr(Dedup.shingleFpsExpr))
      .withColumn("fast", expr("shingle_fps(text)"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(diff === 0)
  }

  test("edge cases: null, empty, <3 tokens, dup shingles, extra spaces") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      Option.empty[String],            // null text -> null (size(NULL) is NULL)
      Some(""),                        // empty -> empty
      Some("one two"),                 // <3 tokens -> empty
      Some("a b c"),                   // exactly one shingle
      Some("x y x y x y x y"),         // repeated shingles -> distinct
      Some("  double  spaced   words here  "), // empty tokens filtered
      Some("MiXeD CaSe TOKENS here"))  // lowercasing
      .toDF("text")
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
    val bad = docs
      .withColumn("slow", expr(Dedup.shingleFpsExpr))
      .withColumn("fast", expr("shingle_fps(text)"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(bad === 0)
    // and the null row IS null (the HOF chain propagates size(NULL))
    val nullRow = docs.filter(col("text").isNull)
      .select(expr("shingle_fps(text)")).head()
    assert(nullRow.isNullAt(0))
  }

  test("long docs (hash-set path) stay identical to the HOF spelling") {
    // > 256 shingles flips compute() to the open-addressing set
    // (round-11 advice: the linear scan was quadratic per row on
    // many-thousand-token docs) — parity must hold across the flip,
    // including repeated shingles scattered through a long body
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def doc(n: Int) = (0 until n).map(_ => words(rnd.nextInt(words.length)))
      .mkString(" ")
    val docs = Seq(doc(255), doc(258), doc(300), doc(2000), doc(8000))
      .toDF("text")
      .withColumn("toks",
        expr("filter(split(lower(text), ' '), t -> t != '')"))
    val bad = docs
      .withColumn("slow", expr(Dedup.shingleFpsExpr))
      .withColumn("fast", expr("shingle_fps(text)"))
      .filter(not(col("fast") <=> col("slow")))
      .count()
    assert(bad === 0)
  }

  test("interpreted eval matches the dataframe (codegen) path") {
    val s = spark
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val viaDf = Seq(text).toDF("text")
      .select(expr("shingle_fps(text)")).head().getSeq[Long](0)
    val viaEval = ShingleFps(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(viaDf === viaEval)
    assert(viaDf.nonEmpty && viaDf.forall(v => v >= 0 && v < 2147483647L))
  }

  test("registered through SparkSessionExtensions at session build") {
    assert(spark.sessionState.functionRegistry
      .functionExists(ShingleFps.fnId))
  }
}
