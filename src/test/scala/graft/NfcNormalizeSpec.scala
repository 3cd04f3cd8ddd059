package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom codegen expression: nfc_normalize must match
  * `java.text.Normalizer` exactly, keep the already-normalized fast
  * path identity-stable, and handle nulls. All non-ASCII content is
  * built from escape sequences so a source-file normalization pass
  * cannot silently rewrite the fixtures.
  */
class NfcNormalizeSpec extends AnyFunSuite {
  import TestSpark._

  // decomposed: e/A/n followed by combining acute/ring/tilde
  private val decomposed = "cafe\u0301 A\u030a n\u0303"
  // precomposed: \u00e9 \u00c5 \u00f1
  private val composed = "caf\u00e9 \u00c5 n\u0303".replace(
    "n\u0303", "\u00f1")

  private def one(s: String): String = {
    val sess = spark
    import sess.implicits._
    Seq(s).toDF("t").selectExpr("nfc_normalize(t)").head().getString(0)
  }

  test("composes decomposed sequences like java.text.Normalizer") {
    val expected = java.text.Normalizer.normalize(
      decomposed, java.text.Normalizer.Form.NFC)
    assert(expected === composed)
    assert(one(decomposed) === composed)
  }

  test("ASCII and already-composed text pass through unchanged") {
    assert(one("plain ascii text") === "plain ascii text")
    assert(one(composed) === composed)
    assert(one("") === "")
  }

  test("null input yields null") {
    val sess = spark
    import sess.implicits._
    val r = Seq(Option.empty[String]).toDF("t")
      .selectExpr("nfc_normalize(t)").head()
    assert(r.isNullAt(0))
  }

  test("interpreted eval matches codegen output") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(decomposed, "abc", composed).toDF("t")
    val gen = rows.selectExpr("nfc_normalize(t)")
      .collect().map(_.getString(0)).toSeq
    val interp = rows.collect().map(r =>
      NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))))
        .eval(null).toString).toSeq
    assert(gen === interp)
  }
}
