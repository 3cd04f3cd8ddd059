package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that reports `deterministic = false` — an
  * explicit optimizer fence around an EXPENSIVE expression.
  *
  * Why it exists: `PushDownPredicate` alias-inlines predicates through
  * projections, so a filter on a derived column is rewritten to the
  * derivation's full expression and pushed to the scan — re-running
  * the derivation once per predicate per row, and (worse) below any
  * rebalance `Exchange`, i.e. at raw-scan parallelism (q11: ~8
  * `get_json_object` parses per row on ONE core of a one-row-group
  * file). Catalyst never reorders across nondeterministic
  * expressions, so wrapping just the expensive leaf keeps every
  * predicate that references it ABOVE the projection that computes
  * it — one evaluation per row, after the rebalance — while
  * predicates on cheap pass-through columns still push into the scan.
  *
  * The wrapper is value-transparent (eval and codegen delegate to the
  * child), so results are bit-identical; only plan shape changes. Use
  * ONLY around genuinely expensive derivations — fencing a cheap one
  * forfeits real pushdown wins.
  */
case class OptimizerBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "optimizer_barrier"
}

object OptimizerBarrier {
  val fnId: FunctionIdentifier = FunctionIdentifier("optimizer_barrier")
  val info = new ExpressionInfo(classOf[OptimizerBarrier].getName, "optimizer_barrier")
  val builder: Seq[Expression] => Expression = es => OptimizerBarrier(es.head)
}
