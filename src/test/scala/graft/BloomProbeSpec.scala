package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[BloomMightContain]] invariants: no false negatives, bounded
  * false-positive rate, codegen/interpreted agreement, and the d17
  * guarantee that the prefilter cannot change verdicts.
  */
class BloomProbeSpec extends AnyFunSuite {
  import TestSpark._

  private def mkFilter(items: Seq[String]) = {
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(items.size.toLong, 0.03)
    items.foreach(bf.putString)
    bf
  }

  test("no false negatives; false positives within a loose 3x fpp bound") {
    val s = spark
    import s.implicits._
    val inserted = (0 until 1000).map(i => s"in-$i")
    val absent = (0 until 1000).map(i => s"out-$i")
    val bf = mkFilter(inserted)
    val df = (inserted ++ absent).toDF("v")
      .withColumn("hit", BloomProbe.probe(col("v"), bf))
    val hits = df.filter(col("hit")).select("v").collect().map(_.getString(0))
    assert(inserted.forall(hits.contains), "bloom false negative")
    val fp = hits.count(_.startsWith("out-"))
    assert(fp <= 90, s"false-positive count $fp way above 3% design point")
  }

  test("codegen probe equals driver-side probes row-for-row") {
    val s = spark
    import s.implicits._
    val bf = mkFilter((0 until 100).map(i => s"k$i"))
    val vals = (0 until 300).map(i => s"k$i")
    val got = vals.toDF("v")
      .withColumn("hit", BloomProbe.probe(col("v"), bf))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    vals.foreach { v => assert(got(v) === bf.mightContainString(v)) }
  }

  test("deserialization cache is bounded (LRU), not pinned forever") {
    // decode far more distinct filters than the cap; the cache must
    // not retain them all for the lifetime of the JVM
    (0 until 40).foreach { i =>
      val bf = mkFilter(Seq(s"only-$i"))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      BloomProbe.filterFor(bos.toByteArray)
    }
    assert(BloomProbe.cacheSize <= 8,
      s"cache grew to ${BloomProbe.cacheSize} entries; LRU cap not applied")
    // a re-probe of the most recent payload still hits (functional sanity)
    val bf = mkFilter(Seq("only-39"))
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    assert(BloomProbe.filterFor(bos.toByteArray).mightContainString("only-39"))
  }

  test("d17 bloom-prefiltered verdicts equal d13 row-for-row") {
    val d13 = Dedup.incrementalDedup(spark, sfDir)
    val d17 = Dedup.bloomIncrementalDedup(spark, sfDir)
    assert(d13.exceptAll(d17).count() === 0)
    assert(d17.exceptAll(d13).count() === 0)
  }
}
