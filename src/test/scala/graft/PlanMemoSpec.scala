package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanMemo]] boundedness: a long-lived session cycling many corpus
  * dirs (each dir contributing its own memo keys) must not pin
  * unbounded cached plans — the access-ordered LRU evicts the oldest
  * and unpersists its frame (round-7 advice item 5).
  */
class PlanMemoSpec extends AnyFunSuite {
  import TestSpark._

  test("memo entries are LRU-capped under many-dir churn") {
    val before = PlanMemo.size
    var rebuilds = 0
    // far more distinct keys than the cap, as a session cycling
    // hundreds of dirs would produce
    (0 until 200).foreach { i =>
      PlanMemo.cached(spark, s"memospec-df-$i") {
        rebuilds += 1
        spark.range(5).toDF("v")
      }
      PlanMemo.cachedValue(spark, s"memospec-v-$i") { i * 2 }
    }
    assert(rebuilds === 200)
    assert(PlanMemo.size <= 64 + 128,
      s"memo grew to ${PlanMemo.size} entries; LRU caps not applied")
    // recency is honored: the most recent keys are still memoized
    // (no rebuild) and an evicted early key rebuilds transparently
    PlanMemo.cached(spark, "memospec-df-199") { fail("199 was evicted") }
    var rebuilt = false
    PlanMemo.cached(spark, "memospec-df-0") {
      rebuilt = true; spark.range(5).toDF("v")
    }
    assert(rebuilt, "key 0 should have been LRU-evicted after 200 inserts")
    assert(before >= 0)
  }

  test("cachedValue returns the memoized driver-side value") {
    var builds = 0
    def get() = PlanMemo.cachedValue(spark, "memospec-value-stable") {
      builds += 1; Seq(1.0, 2.0)
    }
    assert(get() === Seq(1.0, 2.0))
    assert(get() === Seq(1.0, 2.0))
    assert(builds === 1)
  }

  test("published artifacts: unchanged corpus reuses, mutated corpus rebuilds") {
    import org.apache.spark.sql.functions.lit
    val corpus = java.nio.file.Files.createTempDirectory("memospec_corpus")
    TempArtifacts.register(corpus)
    spark.range(10).toDF("v")
      .write.mode("overwrite").parquet(s"$corpus/t.parquet")
    var builds = 0
    def read() = PlanMemo.publishedParquet(spark, corpus.toString,
        "memospec_artifact") {
      builds += 1
      spark.range(3).toDF("v").withColumn("b", lit(builds))
    }
    assert(read().count() === 3)
    assert(read().count() === 3)
    assert(builds === 1, "unchanged corpus must reuse the published artifact")
    // mutate the corpus in place: same dir, different content
    spark.range(20).toDF("v")
      .write.mode("overwrite").parquet(s"$corpus/t.parquet")
    assert(read().select("b").first().getInt(0) === 2)
    assert(builds === 2,
      "a mutated corpus must re-publish, never serve the stale artifact")
  }

  test("a builder that throws mid-write publishes nothing; the next call rebuilds") {
    val corpus = java.nio.file.Files.createTempDirectory("memospec_atomic")
    TempArtifacts.register(corpus)
    spark.range(10).toDF("v")
      .write.mode("overwrite").parquet(s"$corpus/t.parquet")
    val s = spark
    import s.implicits._
    def read(build: => org.apache.spark.sql.DataFrame) =
      PlanMemo.publishedParquet(spark, corpus.toString, "memospec_atomic")(
        build)
    // the write job starts (other tasks commit their part files) and
    // one task throws: the half-written output must not count as the
    // published artifact
    intercept[Exception](read(spark.range(0, 100, 1, 4).as[Long]
      .map(i => if (i == 77L) sys.error("builder failed mid-write") else i)
      .toDF("v")))
    assert(read(Seq(1L, 2L, 3L).toDF("v")).as[Long].collect().sorted
      .toSeq === Seq(1L, 2L, 3L))
  }

  test("corpusFingerprint is stable and content-sensitive") {
    val d = java.nio.file.Files.createTempDirectory("memospec_fp")
    TempArtifacts.register(d)
    java.nio.file.Files.writeString(d.resolve("a.parquet"), "aaaa")
    val f1 = PlanMemo.corpusFingerprint(d.toString)
    assert(f1 === PlanMemo.corpusFingerprint(d.toString))
    java.nio.file.Files.writeString(d.resolve("b.parquet"), "bb")
    assert(f1 !== PlanMemo.corpusFingerprint(d.toString))
    // a non-directory path degrades to a path-keyed fingerprint
    assert(PlanMemo.corpusFingerprint("/no/such/graft/path").nonEmpty)
  }
}
