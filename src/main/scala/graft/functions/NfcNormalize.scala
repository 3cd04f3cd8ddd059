package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen `Expression` —
  * Spark ships no normalization function, and text pipelines need one
  * before any hash-based dedup (the same logical content arrives both
  * precomposed (é) and decomposed (e + U+0301) in real corpora, and
  * md5-keyed dedup would treat them as distinct documents).
  *
  * Build-brief preference order (b): a Catalyst expression inside
  * whole-stage codegen, not a UDF. The generated code takes an
  * allocation-free fast path when the value is already normalized
  * (`Normalizer.isNormalized`) — true for ASCII, i.e. almost every
  * row — and only materializes a new string for rows NFC actually
  * changes. Cross-engine: DuckDB's `nfc_normalize` implements the
  * same UAX #15 form, pinned by the t13 oracle.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects a string input, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $c.toString();
         |${ev.value} = java.text.Normalizer.isNormalized(
         |    $s, java.text.Normalizer.Form.NFC)
         |  ? $c
         |  : org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  val fnId: FunctionIdentifier = FunctionIdentifier("nfc_normalize")
  val info = new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize")
  val builder: Seq[Expression] => Expression = es => NfcNormalize(es.head)
}
