package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused dot product over two float/double array columns — the one
  * place the engine drops below `functions._` to a custom Catalyst
  * `Expression` with real codegen (build brief preference order (b):
  * a native Expression beats a UDF beats everything else).
  *
  * Why it exists: the similarity hot path evaluates a dot product per
  * candidate pair. The built-in spelling
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
  * materializes a product array and walks it with interpreted lambda
  * calls (~µs/element); this expression compiles to a tight primitive
  * loop inside whole-stage codegen — no allocation, no boxing — and
  * keeps the identical left-to-right IEEE summation order, so results
  * are bit-equal to the HOF spelling and the DuckDB oracle.
  *
  * Null semantics: null input array → null; element nulls are not
  * expected (embeddings are dense) and read as 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += get(a, ta, i) * get(b, tb, i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ${getter(ta, a, i)} * ${getter(tb, b, i)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {
  val fnId: FunctionIdentifier = FunctionIdentifier("dot_product")
  val info = new ExpressionInfo(classOf[DotProduct].getName, "dot_product")
  val builder: Seq[Expression] => Expression =
    es => DotProduct(es.head, es(1))
}

/** SparkSessionExtensions entry point: register the engine's custom
  * expressions and planner strategies at session build time
  * (`.config("spark.sql.extensions", "graft.GraftExtensions")` —
  * [[Tables.configure]] sets it, and every entry point builds its
  * session through that; child sessions from `newSession()` inherit
  * the extensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
  }
}

object GraftExtensions {
  /** The ONE registration list of the engine's custom functions. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (DotProduct.fnId, DotProduct.info, DotProduct.builder),
    (TopKScoreId.fnId, TopKScoreId.info, TopKScoreId.builder),
    (OptimizerBarrier.fnId, OptimizerBarrier.info, OptimizerBarrier.builder),
    (NfcNormalize.fnId, NfcNormalize.info, NfcNormalize.builder),
    (MinHashSigs.fnId, MinHashSigs.info, MinHashSigs.builder),
    (SortedInterSize.fnId, SortedInterSize.info, SortedInterSize.builder),
    (ShingleFps.fnId, ShingleFps.info, ShingleFps.builder),
    (SpanFps.fnId, SpanFps.info, SpanFps.builder),
    (TokCount.fnId, TokCount.info, TokCount.builder),
    (PqEncode.fnId, PqEncode.info, PqEncode.builder),
    (BloomProbe.fnId, BloomProbe.info, BloomProbe.builder),
    // Spark's own AssertNotNull under a SQL name: types a value the
    // analyzer cannot prove non-null as non-null, and fails the query
    // on a null (Dedup.verifySets' array elements)
    (FunctionIdentifier("assert_not_null"),
      new ExpressionInfo(classOf[AssertNotNull].getName, "assert_not_null"),
      es => AssertNotNull(es.head)),
    (graft.plans.AsOfLE.fnId, graft.plans.AsOfLE.info,
      graft.plans.AsOfLE.builder),
    (graft.plans.IntervalContains.fnId, graft.plans.IntervalContains.info,
      graft.plans.IntervalContains.builder))
}
