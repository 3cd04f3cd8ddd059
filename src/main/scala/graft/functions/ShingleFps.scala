package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole shingle-fingerprint pipeline as ONE native expression:
  * `shingle_fps(text)` = distinct 3-gram shingle hashes of the
  * whitespace-tokenized, lowercased text — bit-identical to the
  * HOF spelling [[Dedup.shingleFpsExpr]] (pinned by TextDedupSpec):
  *
  * {{{ array_distinct(transform(3-grams of filter(split(lower(text),
  *     ' '), t -> t != ''),
  *     s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
  *          % 2147483647)) }}}
  *
  * Why native: that spelling stacks FOUR interpreted higher-order
  * functions (filter, two transforms, the distinct) and per shingle
  * renders a 32-char md5 HEX STRING, substrings it, and re-parses the
  * hex — each lambda step costs ~µs and every md5 allocates. This is
  * the single hottest scan in the engine: every cold build of the
  * d02/d03/d19 shared indexes (and their d07/d11/d12/d13/d17/w07/w10
  * consumers) pays it over the full corpus. The expression runs the
  * identical arithmetic on the RAW md5 digest bytes — the first 15
  * hex chars are the first 60 bits, i.e. (first-8-bytes-BE >>> 4) —
  * in one per-row loop with zero hex strings, inside whole-stage
  * codegen (one static call per row; the loop itself is JIT-compiled
  * Scala, the MinHashSigs pattern).
  *
  * Null contract (matches the HOF chain exactly): NULL text → NULL
  * (`size(NULL)` is NULL, so the CASE's ELSE transform propagates the
  * null through the whole chain). Distinct keeps FIRST-occurrence
  * order like `array_distinct`.
  */
case class ShingleFps(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_fps expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleFps.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ShingleFps.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle_fps"
}

object ShingleFps {
  val P: Long = 2147483647L

  private[graft] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static per-row kernel (called from generated code); input is
    * never null (nullSafeCodeGen guards).
    */
  def compute(text: UTF8String): UnsafeArrayData = {
    // lower + split(' ') + drop empties — same tokens as
    // filter(split(lower(text), ' '), t -> t != '')
    val toks0 = text.toLowerCase.toString.split(" ", -1)
    var nTok = 0
    var i = 0
    while (i < toks0.length) {
      if (!toks0(i).isEmpty) { toks0(nTok) = toks0(i); nTok += 1 }
      i += 1
    }
    if (nTok < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val md = md5Local.get()
    val nSh = nTok - 2
    val out = new Array[Long](nSh)
    var n = 0
    // First-occurrence distinct. Short docs (the common case): linear
    // scan — allocation-free beats any hash structure at ~50 shingles.
    // Long docs (round-11 advice: a many-thousand-token document made
    // the scan quadratic per row): open-addressing primitive-long set,
    // the same hash-set semantics array_distinct uses, still emitting
    // in first-occurrence order. fp == 0 is a valid hash value, so it
    // gets its own seen flag instead of colliding with empty slots.
    val useSet = nSh > 256
    val cap = if (useSet) java.lang.Integer.highestOneBit(nSh * 4 - 1) << 1 else 0
    val table = if (useSet) new Array[Long](cap) else null
    var seenZero = false
    i = 0
    while (i + 2 < nTok) {
      val s = toks0(i) + " " + toks0(i + 1) + " " + toks0(i + 2)
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars == first 60 bits == (first 8 bytes BE) >>> 4
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      val fp = (v >>> 4) % P
      if (useSet) {
        if (fp == 0L) {
          if (!seenZero) { seenZero = true; out(n) = 0L; n += 1 }
        } else {
          // Fibonacci-mix probe start; linear probing, 0 = empty
          var slot = ((fp * 0x9e3779b97f4a7c15L) >>> 32).toInt & (cap - 1)
          while (table(slot) != 0L && table(slot) != fp)
            slot = (slot + 1) & (cap - 1)
          if (table(slot) == 0L) { table(slot) = fp; out(n) = fp; n += 1 }
        }
      } else {
        var seen = false
        var j = 0
        while (j < n && !seen) { seen = out(j) == fp; j += 1 }
        if (!seen) { out(n) = fp; n += 1 }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }

  val fnId: FunctionIdentifier = FunctionIdentifier("shingle_fps")
  val info = new ExpressionInfo(classOf[ShingleFps].getName, "shingle_fps")
  val builder: Seq[Expression] => Expression = es => ShingleFps(es.head)
}
