package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.LongType

/** The join-condition matcher shared by the custom join strategies
  * ([[AsOfJoinStrategy]], [[RangeJoinStrategy]]).
  */
private[plans] object JoinKeys {

  /** The first `lk = rk` conjunct, in either spelling order, whose
    * sides are long attributes of the left and the right child:
    * (left key, right key). Long keys only — the operators read keys
    * with `getLong`, so any other key type must fall through to the
    * marker's loud eval failure rather than silently compare garbage
    * words.
    */
  def longEquiKey(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Option[(AttributeReference, AttributeReference)] = {
    def keys(lk: AttributeReference, rk: AttributeReference): Boolean =
      l.outputSet.contains(lk) && r.outputSet.contains(rk) &&
        lk.dataType == LongType && rk.dataType == LongType
    conjuncts.collectFirst {
      case EqualTo(lk: AttributeReference, rk: AttributeReference)
          if keys(lk, rk) => (lk, rk)
      case EqualTo(rk: AttributeReference, lk: AttributeReference)
          if keys(lk, rk) => (lk, rk)
    }
  }
}
