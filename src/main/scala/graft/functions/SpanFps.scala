package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** d12's k-token window fingerprints as one native codegen kernel —
  * the [[ShingleFps]] treatment applied to the exact-substring-dedup
  * primitive. `span_fps(text, k)` is bit- and ORDER-identical to
  *
  * {{{ CASE WHEN size(toks) < k THEN array()
  *     ELSE transform(sequence(1, size(toks) - k + 1),
  *       i -> CAST(conv(substring(md5(array_join(slice(toks, i, k),
  *            ' ')), 1, 15), 16, 10) AS BIGINT)) END }}}
  *
  * over `toks = filter(split(lower(text), ' '), t -> t != '')` —
  * position i's window fingerprint sits at array index i-1, so
  * `posexplode` downstream recovers the same (pos, hash) pairs.
  * Differences from shingle_fps: parameterized k, NO `% 2147483647`,
  * and duplicates are KEPT in token order (d12 needs every window
  * position; distinctness would merge repeated spans).
  *
  * Each k-token window string is rendered in full (the windows
  * overlap by k-1 tokens, but the render loop re-appends them); the
  * saving over the `array_join(slice(...))` HOF chain is fusing
  * tokenize + render + hash into ONE codegen kernel with a single
  * reused StringBuilder — no per-window array slices, join buffers,
  * or HOF lambda-step overhead. NULL text → NULL (size(NULL) is NULL
  * — the CASE propagates it, same as the HOF chain).
  */
case class SpanFps(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"span_fps window size must be >= 1, got $k")
    case t => TypeCheckResult.TypeCheckFailure(
      s"span_fps expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SpanFps.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.SpanFps.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "span_fps"
}

/** See [[SpanFps.tokCount]]. */
case class TokCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tok_count expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SpanFps.tokCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.SpanFps.tokCount($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "tok_count"
}

object TokCount {
  val fnId: FunctionIdentifier = FunctionIdentifier("tok_count")
  val info = new ExpressionInfo(classOf[TokCount].getName, "tok_count")
  val builder: Seq[Expression] => Expression = es => TokCount(es.head)
}

object SpanFps {

  /** Static per-row kernel (called from generated code); input never
    * null (nullSafeCodeGen guards).
    */
  def compute(text: UTF8String, k: Int): UnsafeArrayData = {
    val toks0 = text.toLowerCase.toString.split(" ", -1)
    var nTok = 0
    var i = 0
    while (i < toks0.length) {
      if (!toks0(i).isEmpty) { toks0(nTok) = toks0(i); nTok += 1 }
      i += 1
    }
    if (nTok < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val md = ShingleFps.md5Local.get()
    val out = new Array[Long](nTok - k + 1)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i + k <= nTok) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks0(j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // conv(substring(md5hex, 1, 15), 16, 10): first 60 digest bits
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `tok_count(text)` ≡ `size(filter(split(lower(text), ' '),
    * t -> t != ''))` — the whitespace token count without building
    * the token array or running the interpreted filter lambda.
    * INT like `size`; NULL text → NULL.
    */
  def tokCount(text: UTF8String): Int = {
    // count maximal runs of non-space bytes; ' ' is single-byte in
    // UTF-8 so a byte scan is exact for any content, and lowercasing
    // cannot change the count — skip it entirely
    val n = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b == ' '.toByte) inTok = false
      else if (!inTok) { count += 1; inTok = true }
      i += 1
    }
    count
  }

  val fnId: FunctionIdentifier = FunctionIdentifier("span_fps")
  val info = new ExpressionInfo(classOf[SpanFps].getName, "span_fps")
  val builder: Seq[Expression] => Expression = es => {
    val k = es(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"span_fps window size must be an int literal, got $other")
    }
    SpanFps(es.head, k)
  }
}
