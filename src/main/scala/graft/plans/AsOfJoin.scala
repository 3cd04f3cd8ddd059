package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, TimestampNTZType, TimestampType}

/** Native AS-OF JOIN — the build brief's preference-order (c): a whole
  * custom operator (marker expression → planner Strategy → physical
  * `SparkPlan`) for semantics the built-in operators can only express
  * indirectly. [[graft.TemporalJoins.leftAsOf]] spells as-of as
  * union + struct-packed `last(ignoreNulls)` window — correct and
  * hash-gated (r06), but it unions both inputs into ONE shuffle and
  * runs window state over the merged stream. This operator instead
  * plans the textbook physical shape: co-partition each side by the
  * join key, sort by (key, ts), and stream-merge the two sorted
  * iterators — one exchange per side, no window buffer, O(1) state
  * per key (the single latest right row).
  *
  * Surface: `left.join(right, leftKey === rightKey &&
  * asof_le(leftTs, rightTs), "left_outer")`. The `asof_le` marker is
  * a registered boolean function that the injected
  * [[AsOfJoinStrategy]] recognizes and compiles away; it never
  * evaluates row-at-a-time (eval throws — if the strategy is not
  * installed the query fails loudly rather than silently producing
  * range-join multiplicities).
  *
  * Supported shape (the r06/r10 contract, checked at plan time):
  * long keys, timestamp/long ts on both sides, right side unique per
  * (key, ts) — the same uniqueness contract leftAsOf documents.
  */
case class AsOfLE(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
      e.dataType == TimestampType || e.dataType == TimestampNTZType || e.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "asof_le expects timestamp/long ts columns")
  override def nullSafeEval(l: Any, r: Any): Any =
    throw new IllegalStateException(
      "asof_le is an as-of join marker; install graft.plans.AsOfJoinStrategy " +
        "(Tables.configure does) instead of evaluating it as a predicate")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "asof_le"
}

object AsOfLE {
  val fnId: FunctionIdentifier = FunctionIdentifier("asof_le")
  val info = new ExpressionInfo(classOf[AsOfLE].getName, "asof_le")
  val builder: Seq[Expression] => Expression = es => AsOfLE(es.head, es(1))
}

/** Planner strategy: `Join(LeftOuter, key = key AND asof_le(lts, rts))`
  * → [[AsOfJoinExec]]. Injected via `GraftExtensions`
  * (`injectPlannerStrategy`) and defensively through
  * `spark.experimental.extraStrategies`.
  */
object AsOfJoinStrategy extends SparkStrategy with PredicateHelper {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(l, r, LeftOuter, Some(cond), _)
        if splitConjunctivePredicates(cond).exists(_.isInstanceOf[AsOfLE]) =>
      val cs = splitConjunctivePredicates(cond)
      (JoinKeys.longEquiKey(cs, l, r), cs.collectFirst {
        case AsOfLE(lts: AttributeReference, rts: AttributeReference)
            if l.outputSet.contains(lts) && r.outputSet.contains(rts) =>
          (lts, rts)
      }) match {
        case (Some((lk, rk)), Some((lts, rts))) if cs.size == 2 =>
          AsOfJoinExec(lk, rk, lts, rts, planLater(l), planLater(r)) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** Physical as-of join: both children hash-clustered by the key and
  * sorted by (key, ts); `doExecute` stream-merges the co-partitions
  * with a two-pointer walk keeping only the LATEST right row at or
  * before the current left timestamp — no window state, no union.
  */
case class AsOfJoinExec(
    leftKey: AttributeReference, rightKey: AttributeReference,
    leftTs: AttributeReference, rightTs: AttributeReference,
    left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lki = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lti = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rki = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rti = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(Seq(lki, lti, rki, rti).forall(_ >= 0),
      "as-of join columns must be direct child attributes")
    val rightWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (lit, rit) =>
      val rBuf = rit.buffered
      val nulls = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // the single latest right row at-or-before the cursor, per key
      var last: InternalRow = null
      var lastKey = 0L
      lit.map { l =>
        if (l.isNullAt(lki) || l.isNullAt(lti)) joined(l, nulls)
        else {
          val lk = l.getLong(lki)
          val lt = l.getLong(lti)
          while (rBuf.hasNext && {
            val h = rBuf.head
            // null right keys/ts sort first (ASC NULLS FIRST): consume
            // and discard — a null key matches nothing, like SQL equi
            h.isNullAt(rki) || h.isNullAt(rti) || {
              val rk = h.getLong(rki)
              rk < lk || (rk == lk && h.getLong(rti) <= lt)
            }
          }) {
            val r = rBuf.next()
            if (!r.isNullAt(rki) && !r.isNullAt(rti) && r.getLong(rki) == lk) {
              last = r.copy(); lastKey = lk
            }
          }
          if (last != null && lastKey == lk) joined(l, last)
          else joined(l, nulls)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
