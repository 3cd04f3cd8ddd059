package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter membership probe — the sketch that makes
  * INCREMENTAL dedup cheap at 100 TB: the base corpus is summarized
  * once into ~1.2 bytes/doc of bits, and each incoming document pays
  * one map-side probe instead of a shuffle against the base hash set.
  * Only probe survivors (true matches + the configured false-positive
  * sliver) continue into the exact confirm join, so the expensive
  * equi join sees a candidate stream proportional to the DUPLICATE
  * rate, not the increment size. A Bloom filter has no false
  * negatives, so the confirmed verdicts are exactly the unfiltered
  * answer — which is what lets d17 share d13's oracle.
  *
  * Spelling: Spark's own runtime-filter expression
  * (`BloomFilterMightContain`) is optimizer-internal and not
  * registrable, and a Scala UDF would break whole-stage codegen on
  * the scan it guards — so this is the build-brief preference-order
  * (b) custom `Expression` with real `doGenCode`, like [[DotProduct]].
  * The serialized filter travels as a foldable BINARY literal child
  * (the same way a broadcast literal rides a plan), is deserialized
  * once per JVM via [[BloomProbe.filterFor]]'s content-keyed cache,
  * and codegen probes it through `ctx.addReferenceObj`.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects a string probe, got " +
          left.dataType.catalogString)
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain expects a foldable binary filter payload")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val filter: BloomFilter =
    BloomProbe.filterFor(right.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(v: Any, ignoredPayload: Any): Any =
    filter.mightContainString(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (c, _) =>
      s"${ev.value} = $ref.mightContainString($c.toString());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bloom_might_contain"
}

object BloomProbe {

  /** Per-JVM deserialization cache keyed by payload md5 — every
    * expression instance (driver, each codegen'd task) reuses one
    * decoded BloomFilter per distinct payload instead of re-parsing
    * the bit array per instantiation. Bounded LRU (access-ordered):
    * the working set is one or two filters, but a long-lived session
    * cycling corpus dirs must not pin every multi-MB filter it ever
    * decoded for the executor's lifetime.
    */
  private val cacheMax = 8
  private val cache =
    new java.util.LinkedHashMap[String, BloomFilter](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BloomFilter]): Boolean =
        size() > cacheMax
    }

  private[graft] def filterFor(bytes: Array[Byte]): BloomFilter = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val bf = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
        cache.put(key, bf)
        bf
      }
    }
  }

  /** Test hook: current number of decoded filters held. */
  private[graft] def cacheSize: Int = cache.synchronized(cache.size())

  val fnId: FunctionIdentifier = FunctionIdentifier("bloom_might_contain")
  val info = new ExpressionInfo(
    classOf[BloomMightContain].getName, "bloom_might_contain")
  val builder: Seq[Expression] => Expression =
    es => BloomMightContain(es.head, es(1))

  /** Column-API entry point: `df.filter(BloomProbe.probe(col("fp"), bf))`. */
  def probe(c: Column, filter: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    call_function("bloom_might_contain", c, lit(bos.toByteArray))
  }
}
