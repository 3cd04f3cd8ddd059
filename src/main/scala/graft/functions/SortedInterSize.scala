package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact intersection SIZE of two SORTED-ascending, duplicate-free
  * long arrays — a native codegen `Expression` replacing
  * `size(array_intersect(a, b))` in d19's verify stage.
  *
  * `array_intersect` is general-purpose: per row it builds a hash set
  * of one side, probes the other, and MATERIALIZES the intersection
  * array — all of which is garbage the very next operator (`size`)
  * throws away. The d19 verify runs that allocation loop 12M+ times
  * per sf10 pass over arrays that are already in canonical sorted
  * order (Dedup.verifySets array_sorts each document's set once,
  * before the arrays fan out to both verify sides). For sorted
  * distinct inputs the intersection size is one allocation-free
  * two-pointer merge scan — O(|a|+|b|) with no hash set, no output
  * array, no per-element boxing — inside whole-stage codegen.
  *
  * Preconditions (callers own them; see [[Dedup.verifySets]]):
  * both arrays ascending and duplicate-free. Null ELEMENTS sort last
  * under `array_sort` and terminate the scan (a null never equals a
  * shingle hash; shingle arrays are transform()-built and never
  * contain nulls in practice). A NULL array input yields NULL (the
  * default BinaryExpression null contract, matching
  * `size(array_intersect(...))`'s null-in/null-out).
  *
  * Returns BIGINT so it is a drop-in for the previous
  * `size(array_intersect(...)).cast("long")` spelling.
  */
case class SortedInterSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  // both sides int or both long — the verify path narrows its shingle
  // hashes (< 2^31 by construction, mod 2147483647) to array<int> to
  // halve the candidate-join shuffle bytes
  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (IntegerType | LongType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_size expects matching (array<int|bigint>, " +
          s"array<int|bigint>), got (${left.dataType.catalogString}, " +
          s"${right.dataType.catalogString})")
    }

  private def get(a: ArrayData, i: Int): Long = elemType(left).get match {
    case IntegerType => a.getInt(i).toLong
    case _ => a.getLong(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m && !x.isNullAt(i) && !y.isNullAt(j)) {
      val xv = get(x, i)
      val yv = get(y, j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elemType(left).get match {
      case IntegerType => "getInt"
      case _ => "getLong"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |final int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  final long $xv = (long) $a.$getter($i);
         |  final long $yv = (long) $b.$getter($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_inter_size"
}

object SortedInterSize {
  val fnId: FunctionIdentifier = FunctionIdentifier("sorted_inter_size")
  // The usage string is the first thing `DESCRIBE FUNCTION` / a future
  // SQL caller sees (round-11 advice): the PRECONDITIONS are load-
  // bearing — on unsorted or duplicate-bearing input the merge scan
  // silently undercounts, and a null element terminates the scan
  // (size(array_intersect) would keep counting past it). Every call
  // site must feed array_sort'd, duplicate-free, containsNull=false
  // arrays, like Dedup.verifySets does; SortedInterSizeSpec pins the
  // d19 call-site inputs against exactly these preconditions AND that
  // DESCRIBE FUNCTION actually surfaces this text. The 5-arg
  // constructor is (className, db, name, usage, extended) — the 3-arg
  // one is (className, db, NAME), which silently registered the usage
  // text as the function name (round-12 advice).
  val info = new ExpressionInfo(classOf[SortedInterSize].getName, null,
    "sorted_inter_size",
    "_FUNC_(a, b) - Intersection size of two SORTED-ascending, " +
      "DUPLICATE-FREE arrays of int/bigint with no null elements. " +
      "PRECONDITIONS ARE NOT CHECKED: unsorted or duplicate-bearing " +
      "input silently undercounts; a null element terminates the scan. " +
      "Callers must array_sort() distinct, null-free arrays first.", "")

  val builder: Seq[Expression] => Expression =
    es => SortedInterSize(es.head, es(1))
}
