package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanMemo]] boundedness: a long-lived session cycling many corpus
  * dirs (each dir contributing its own memo keys) must not pin
  * unbounded cached plans — the access-ordered LRU evicts the oldest
  * and unpersists its frame (round-7 advice item 5).
  */
class PlanMemoSpec extends AnyFunSuite {
  import TestSpark._

  private def tempCorpus(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    TempArtifacts.register(d)
    d.toString
  }

  test("memo entries are LRU-capped under many-dir churn") {
    val dir = tempCorpus("memospec_lru")
    val before = PlanMemo.size
    var rebuilds = 0
    // far more distinct keys than the cap, as a session cycling
    // hundreds of dirs would produce
    (0 until 200).foreach { i =>
      PlanMemo.cached(spark, dir, s"memospec-df-$i") {
        rebuilds += 1
        spark.range(5).toDF("v")
      }
      PlanMemo.cachedValue(spark, dir, s"memospec-v-$i") { i * 2 }
    }
    assert(rebuilds === 200)
    assert(PlanMemo.size <= 64 + 128,
      s"memo grew to ${PlanMemo.size} entries; LRU caps not applied")
    // recency is honored: the most recent keys are still memoized
    // (no rebuild) and an evicted early key rebuilds transparently
    PlanMemo.cached(spark, dir, "memospec-df-199") { fail("199 was evicted") }
    var rebuilt = false
    PlanMemo.cached(spark, dir, "memospec-df-0") {
      rebuilt = true; spark.range(5).toDF("v")
    }
    assert(rebuilt, "key 0 should have been LRU-evicted after 200 inserts")
    assert(before >= 0)
  }

  test("cachedValue returns the memoized driver-side value") {
    val dir = tempCorpus("memospec_value")
    var builds = 0
    def get() = PlanMemo.cachedValue(spark, dir, "memospec-value-stable") {
      builds += 1; Seq(1.0, 2.0)
    }
    assert(get() === Seq(1.0, 2.0))
    assert(get() === Seq(1.0, 2.0))
    assert(builds === 1)
  }

  test("memos: unchanged corpus reuses, a file rewritten in place rebuilds") {
    val corpus = java.nio.file.Paths.get(tempCorpus("memospec_version"))
    val part = corpus.resolve("t.parquet")
    java.nio.file.Files.writeString(part, "v1")
    var frames, values = 0
    def frame() = PlanMemo.cached(spark, corpus.toString, "memospec-frame") {
      frames += 1; spark.range(frames).toDF("v")
    }
    def value() = PlanMemo.cachedValue(spark, corpus.toString,
        "memospec-value") { values += 1; values }
    assert(frame().count() === 1 && value() === 1)
    assert(frame().count() === 1 && value() === 1)
    assert((frames, values) === ((1, 1)), "an unchanged corpus must reuse")
    // same name, same size, new content and mtime
    java.nio.file.Files.writeString(part, "v2")
    java.nio.file.Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(part).toMillis + 2000))
    assert(frame().count() === 2 && value() === 2)
    assert((frames, values) === ((2, 2)),
      "a rewritten corpus must rebuild, never serve the old memo")
    assert(frame().count() === 2 && value() === 2)
    assert((frames, values) === ((2, 2)))
  }

  test("a published artifact is read while another artifact's builder is blocked") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val corpus = tempCorpus("memospec_lock")
    def publish(name: String)(build: => org.apache.spark.sql.DataFrame) =
      PlanMemo.publishedParquet(spark, corpus, name)(build)
    assert(publish("memospec_ready")(spark.range(4).toDF("v")).count() === 4)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val blocked = Future(publish("memospec_blocked") {
      entered.countDown(); release.await(); spark.range(2).toDF("v")
    }.count())
    try {
      assert(entered.await(60, SECONDS), "the blocked builder never started")
      val read = Future(publish("memospec_ready")(
        fail("a published artifact must not rebuild")).count())
      assert(Await.result(read, 30.seconds) === 4,
        "reading a published artifact waited on another artifact's builder")
    } finally release.countDown()
    assert(Await.result(blocked, 60.seconds) === 2)
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
    val first = read()
    assert(first.count() === 3)
    assert(read() eq first,
      "a second call in one session must return the memoized frame")
    assert(builds === 1, "unchanged corpus must reuse the published artifact")
    // a new session misses the memo but reads the published file
    assert(PlanMemo.publishedParquet(spark.newSession(), corpus.toString,
        "memospec_artifact")(fail("a new session must not rebuild"))
      .count() === 3)
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
