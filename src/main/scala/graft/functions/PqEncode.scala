package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization encoder: `pq_encode(q, books)` maps an
  * integer-lattice vector to its m per-subspace nearest-centroid codes
  * plus the total squared reconstruction error, returned as
  * `array<bigint>` of length m+1 (`[code_0 … code_{m-1}, qerr]`).
  *
  * Why a custom expression (brief preference (b)): the composed-SQL
  * spelling (`array_position(array(dist_0…dist_k), array_min(…))` per
  * subspace) inlines every centroid component as a source literal, so
  * EACH Lloyd round generates different source and pays a fresh
  * whole-stage-codegen compile — compilation dominated the PQ queries
  * (~1 s per round). Here the codebook is a FOLDABLE literal child
  * evaluated once and attached via `addReferenceObj`, so the generated
  * source is byte-identical across rounds and queries: one compile,
  * then a tight three-level integer loop (m × k × subDim) with no
  * allocation per candidate beyond the m+1 output array.
  *
  * Tie-break: strictly-smaller distance wins, so equal distances keep
  * the LOWEST code id — matching the oracle's `ORDER BY d, cid`.
  */
case class PqEncode(vec: Expression, books: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = books

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, books.dataType) match {
    case (ArrayType(LongType, _),
          ArrayType(ArrayType(ArrayType(LongType, _), _), _)) if books.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "pq_encode expects (array<bigint> vector, foldable array<array<array<bigint>>> codebooks)")
  }

  /** Codebook materialized once: [subspace][code][component]. */
  @transient private lazy val bk: Array[Array[Array[Long]]] = {
    val outer = books.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements()) { s =>
      val mid = outer.getArray(s)
      Array.tabulate(mid.numElements()) { c =>
        mid.getArray(c).toLongArray()
      }
    }
  }

  /** Shared by eval and codegen (via reference) — the whole encoder. */
  def encode(q: ArrayData): GenericArrayData = {
    val m = bk.length
    val out = new Array[Long](m + 1)
    var qerr = 0L
    var off = 0
    var s = 0
    while (s < m) {
      val cents = bk(s)
      val subDim = cents(0).length
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = q.getLong(off + j) - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toLong
      qerr += bestD
      off += subDim
      s += 1
    }
    out(m) = qerr
    new GenericArrayData(out)
  }

  override def nullSafeEval(q: Any, unused: Any): Any =
    encode(q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the expression itself is the reference: codegen calls back into
    // encode(), which runs the same tight loop the interpreter uses —
    // the codebook lives in `bk`, never in generated source, so the
    // source text (and the codegen cache key) is stable across rounds
    val self = ctx.addReferenceObj("pqEncoder", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, (q, _) => s"${ev.value} = $self.encode($q);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, books = newRight)

  override def prettyName: String = "pq_encode"
}

object PqEncode {
  val fnId: FunctionIdentifier = FunctionIdentifier("pq_encode")
  val info = new ExpressionInfo(classOf[PqEncode].getName, "pq_encode")
  val builder: Seq[Expression] => Expression =
    es => PqEncode(es.head, es(1))
}
