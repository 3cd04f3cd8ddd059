package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A corpus rewritten in place inside one session must be answered as a
  * fresh session answers it: no memo built from the old content may be
  * served. t14 (the `text.bm25tf` frame) and t27 (the
  * `text.bpeEncodeDicts:large` encode dictionaries) read session memos
  * that are not published
  * artifacts, so only the memo layer's corpus versioning protects them.
  */
class CorpusRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private val names = Seq("t14_bm25_rank", "t27_bpe_encode_large")

  private def answer(s: SparkSession, dir: String, name: String): Seq[String] =
    SparkEntry.queries(name)(s, dir).collect().map(_.toString).toSeq.sorted

  /** A fresh temp directory holding a copy of `src`'s tree. */
  private def copyOf(src: String): String = {
    val dst = Files.createTempDirectory("rewrite_spec")
    TempArtifacts.register(dst)
    val root = Paths.get(src)
    val walk = Files.walk(root)
    try walk.forEach { (p: Path) =>
      val to = dst.resolve(root.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
    dst.toString
  }

  test("a corpus rewritten in place is answered as a fresh session would") {
    val dir = copyOf(sfDir)
    val before = names.map(answer(spark, dir, _))
    // rewrite documents.parquet by file moves, as an outside writer
    // would: Spark's own overwrite of a path re-caches the plans cached
    // over it, which would hide a stale memo of a frame
    val staged = Files.createTempDirectory("rewrite_spec_docs")
    TempArtifacts.register(staged)
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$staged/documents.parquet")
    Files.delete(Paths.get(s"$dir/documents.parquet"))
    Files.move(staged.resolve("documents.parquet"),
      Paths.get(s"$dir/documents.parquet"))
    val after = names.map(answer(spark, dir, _))
    // the reference answer: a new session over a copy of the rewritten
    // corpus at a new path, so no plan cached over the old content can
    // be substituted into it
    val fresh = copyOf(dir)
    val freshSession = spark.newSession()
    val expected = names.map(answer(freshSession, fresh, _))
    // t14's ranking moves with the corpus; t27's answer is a band
    // verdict that holds on both corpora, so it must merely still hold
    assert(expected.head !== before.head, "the rewrite must change t14")
    names.indices.foreach { i =>
      assert(after(i) === expected(i),
        s"${names(i)}: the rewritten corpus was served a stale answer")
    }
    // t27's bands cannot see a stale dictionary behind them, so compare
    // the encode dictionaries t27 memoized on both sides; neither may
    // be rebuilt here
    def dicts(s: SparkSession, d: String) =
      PlanMemo.cached(s, d, "text.bpeEncodeDicts:large")(
        fail("t27 must already have memoized its dictionaries"))
        .collect().map(_.toString).toSeq.sorted
    assert(dicts(spark, dir) === dicts(freshSession, fresh),
      "the rewritten corpus kept the old t27 encode dictionaries")
  }
}
