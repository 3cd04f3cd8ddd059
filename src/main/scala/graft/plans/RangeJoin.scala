package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, ExpressionInfo, JoinedRow, PredicateHelper, SortOrder, TernaryExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, TimestampNTZType, TimestampType}

/** Native RANGE JOIN (points-in-intervals) — the same custom-operator
  * pattern as [[AsOfJoinExec]] (marker expression → planner Strategy →
  * stream-merge `SparkPlan`), extended from "latest row at-or-before"
  * to interval overlap. [[graft.TemporalJoins.rangeJoin]] spells the
  * operator as a time-bucketed equi pre-join + refine — portable and
  * hash-gated (r07), but every interval duplicates into
  * length/bucket + 1 bucket rows before the join. This operator
  * instead plans the direct physical shape: co-partition both sides by
  * the join key, sort points by (key, ts) and intervals by
  * (key, start), and stream-merge — each interval row crosses the
  * exchange exactly ONCE, and per-key state is the set of intervals
  * still open at the current point timestamp (the irreducible working
  * set of any interval join).
  *
  * Surface: `points.join(intervals, pKey === iKey &&
  * interval_contains(pts, startTs, endTs), "inner")`. Inclusive on
  * both ends, matching r07's `BETWEEN`. The marker never evaluates
  * row-at-a-time (eval throws — an uninstalled strategy fails loudly
  * instead of silently nested-loop-joining).
  *
  * Supported shape (checked at plan time, like the as-of contract):
  * long keys; timestamp/long point, start, and end columns; start/end
  * both on the right child. NULL key, point, start, or end matches
  * nothing, like SQL comparison semantics.
  */
case class IntervalContains(pt: Expression, start: Expression, end: Expression)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = pt
  override def second: Expression = start
  override def third: Expression = end
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(pt, start, end).forall(e =>
      e.dataType == TimestampType || e.dataType == TimestampNTZType || e.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "interval_contains expects timestamp/long columns")
  override def nullSafeEval(p: Any, s: Any, e: Any): Any =
    throw new IllegalStateException(
      "interval_contains is a range-join marker; install " +
        "graft.plans.RangeJoinStrategy (Tables.configure does) instead of " +
        "evaluating it as a predicate")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(pt = newFirst, start = newSecond, end = newThird)
  override def prettyName: String = "interval_contains"
}

object IntervalContains {
  val fnId: FunctionIdentifier = FunctionIdentifier("interval_contains")
  val info = new ExpressionInfo(
    classOf[IntervalContains].getName, "interval_contains")
  val builder: Seq[Expression] => Expression =
    es => IntervalContains(es.head, es(1), es(2))
}

/** Planner strategy: `Join(Inner, key = key AND
  * interval_contains(pts, start, end))` → [[RangeJoinExec]].
  */
object RangeJoinStrategy extends SparkStrategy with PredicateHelper {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(l, r, Inner, Some(cond), _)
        if splitConjunctivePredicates(cond).exists(_.isInstanceOf[IntervalContains]) =>
      val cs = splitConjunctivePredicates(cond)
      (JoinKeys.longEquiKey(cs, l, r), cs.collectFirst {
        case IntervalContains(pt: AttributeReference,
            s: AttributeReference, e: AttributeReference)
            if l.outputSet.contains(pt) && r.outputSet.contains(s) &&
              r.outputSet.contains(e) =>
          (pt, s, e)
      }) match {
        case (Some((lk, rk)), Some((pt, s, e))) if cs.size == 2 =>
          RangeJoinExec(lk, rk, pt, s, e, planLater(l), planLater(r)) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** Physical inner range join: both children hash-clustered by the key,
  * points sorted by (key, ts), intervals by (key, start); `doExecute`
  * stream-merges the co-partitions keeping a per-key buffer of OPEN
  * intervals (start ≤ current point ts, end not yet passed). Because
  * points ascend within a key, an interval whose end < the current
  * point ts can never match a later point and is evicted — the buffer
  * holds exactly the concurrently-open intervals, the minimum state
  * any interval join needs.
  */
case class RangeJoinExec(
    leftKey: AttributeReference, rightKey: AttributeReference,
    pointTs: AttributeReference,
    startTs: AttributeReference, endTs: AttributeReference,
    left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(pointTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(startTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(pointTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lki = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lti = left.output.indexWhere(_.exprId == pointTs.exprId)
    val rki = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rsi = right.output.indexWhere(_.exprId == startTs.exprId)
    val rei = right.output.indexWhere(_.exprId == endTs.exprId)
    require(Seq(lki, lti, rki, rsi, rei).forall(_ >= 0),
      "range join columns must be direct child attributes")
    left.execute().zipPartitions(right.execute()) { (lit, rit) =>
      val rBuf = rit.buffered
      val joined = new JoinedRow
      val active = new scala.collection.mutable.ArrayBuffer[InternalRow]
      var curKey = 0L
      var haveKey = false
      lit.flatMap { l =>
        if (l.isNullAt(lki) || l.isNullAt(lti)) Iterator.empty
        else {
          val lk = l.getLong(lki)
          val lt = l.getLong(lti)
          if (!haveKey || curKey != lk) {
            active.clear(); curKey = lk; haveKey = true
          }
          // ingest intervals up to this point: discard earlier keys
          // and null keys/starts (null matches nothing); buffer only
          // same-key intervals already open and not already closed
          while (rBuf.hasNext && {
            val h = rBuf.head
            h.isNullAt(rki) || h.isNullAt(rsi) || {
              val rk = h.getLong(rki)
              rk < lk || (rk == lk && h.getLong(rsi) <= lt)
            }
          }) {
            val r = rBuf.next()
            if (!r.isNullAt(rki) && !r.isNullAt(rsi) && !r.isNullAt(rei) &&
                r.getLong(rki) == lk && r.getLong(rei) >= lt)
              active += r.copy()
          }
          // evict intervals that closed before this point — points
          // ascend within the key, so they can never match again
          if (active.nonEmpty)
            active.filterInPlace(r => r.getLong(rei) >= lt)
          active.iterator.map(r => joined(l, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
