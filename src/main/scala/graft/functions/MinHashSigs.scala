package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** All MinHash signature minima in ONE map-side pass — a native
  * codegen `Expression` replacing the explode → 16 codegen'd `min`
  * aggregates spelling of the d02/d11/d13 signature pipeline.
  *
  * The aggregate spelling was itself the fast replacement for
  * interpreted array-HOF folds (~20× — see Dedup's scaladoc), but it
  * still pays a full hash-aggregate exchange: the shingle stream
  * explodes to ~50 rows/doc, partial-aggregates, and shuffles one
  * (doc_id, 16 mins) row per document. This expression computes the
  * same 16 minima inside the scan's whole-stage-codegen projection —
  * one tight `long[]` loop per document, zero Generate, zero
  * Exchange. At 100 TB that deletes a corpus-sized shuffle (one row
  * per document) from every consumer of the LSH index; at bench scale
  * it removes a whole stage from d02/d11/d13's critical path.
  *
  * Semantics (bit-identical to the aggregate spelling, pinned by
  * TextDedupSpec): sig_i = min over shingle hashes sh of
  * (a_i·sh + b_i) mod P with all values positive longs (no overflow:
  * max a_i · max sh ≈ 5.5e16 ≪ 2^63). An EMPTY shingle set yields
  * NULL — the aggregate spelling dropped such documents before the
  * group-by (explode_outer + isNotNull filter), so callers filter
  * `isNotNull` and the document vanishes from the band index exactly
  * as before.
  */
case class MinHashSigs(child: Expression, as: Seq[Long], bs: Seq[Long],
    p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects array<bigint>, got ${t.catalogString}")
  }

  // empty shingle sets map to NULL even when the input is non-null
  override def nullable: Boolean = true

  private lazy val asArr: Array[Long] = as.toArray
  private lazy val bsArr: Array[Long] = bs.toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val k = asArr.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val sh = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = (asArr(j) * sh + bsArr(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", asArr, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bsArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val sh = ctx.freshName("sh")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final long[] $mins = new long[${asArr.length}];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$c.isNullAt($i)) {
         |      final long $sh = $c.getLong($i);
         |      for (int $j = 0; $j < ${asArr.length}; $j++) {
         |        final long $v = ($asRef[$j] * $sh + $bsRef[$j]) % ${p}L;
         |        if ($v < $mins[$j]) $mins[$j] = $v;
         |      }
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_sigs"
}

object MinHashSigs {
  val fnId: FunctionIdentifier = FunctionIdentifier("minhash_sigs")
  val info = new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs")

  /** SQL surface: `minhash_sigs(fps)` with the engine's fixed
    * 16-permutation parameter set (Dedup.hashAs/hashBs mod Dedup.P).
    */
  val builder: Seq[Expression] => Expression =
    es => MinHashSigs(es.head, Dedup.hashAs, Dedup.hashBs, Dedup.P)
}
