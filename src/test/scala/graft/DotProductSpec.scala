package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom codegen expression: dot_product must be bit-identical to
  * the interpreted HOF spelling (same fold order), handle nulls, and
  * be registered via the session extensions.
  */
class DotProductSpec extends AnyFunSuite {
  import TestSpark._

  private val hofDot =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  test("bit-identical to the HOF fold over all embedding pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(broadcast(
        emb.filter(col("vec_id") < 5).select(col("embedding").as("b"))))
    val diff = pairs
      .withColumn("fast", expr("dot_product(a, b)"))
      .withColumn("slow", expr(hofDot))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff === 0)
  }

  test("null array yields null, not a crash") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    val r = df.select(expr("dot_product(a, b)")).head()
    assert(r.isNullAt(0))
  }

  test("registered through SparkSessionExtensions at session build") {
    // TestSpark's session goes through Tables.configure which sets
    // spark.sql.extensions=graft.GraftExtensions — the function
    // resolves from the extensions alone.
    assert(spark.conf.get("spark.sql.extensions")
      .contains("graft.GraftExtensions"))
    assert(spark.sessionState.functionRegistry
      .functionExists(DotProduct.fnId))
  }

  test("mixed float/double arrays and mismatched lengths") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(2.0, 10.0))).toDF("a", "b")
    // shorter side bounds the loop: 1*2 + 2*10 = 22
    assert(df.select(expr("dot_product(a, b)")).head().getDouble(0) === 22.0)
  }
}
