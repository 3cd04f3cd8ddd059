package graft

import org.apache.spark.unsafe.types.UTF8String

/** Driver-side microbenchmark for the hot per-row kernels — the
  * feedback loop for single-kernel work that Bench (whole-query) is
  * too coarse for. No SparkSession: the kernels are static JVM
  * methods, so this times exactly the per-row cost an executor pays
  * inside whole-stage codegen.
  *
  * Usage: `sbt "runMain graft.KernelBench"`. Current suites:
  *   - shingle_fps across doc lengths (250 → 64k tokens): pins the
  *     round-12 O(n²) fix — per-token cost must stay ~flat across the
  *     256-shingle flip to the open-addressing set (the pre-fix
  *     linear-scan distinct went quadratic here; see SCALE.md).
  */
object KernelBench {

  /** `runMain graft.KernelBench bpeenc` — the t27/t31 dictionary
    * encode kernel at production rule counts: the rank-CURSOR encode
    * (O(|word|²) rank-map probes, rule-count independent). Pure driver
    * JVM — this is exactly the per-word cost an executor pays inside
    * the mapPartitions encode.
    */
  private def bpeEncSuite(): Unit = {
    val rnd = new scala.util.Random(41)
    def word(): String = {
      val r = rnd.nextDouble()
      if (r < 0.3) (1 + rnd.nextInt(99999)).toString
      else (1 to (3 + rnd.nextInt(8)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val vocabWords = Iterator.continually(word()).take(120000).toSeq.distinct
    def hexSym(w: String): String =
      w.getBytes("UTF-8").map("%02X".format(_)).mkString(" ")
    val dict = vocabWords.map(w => (1L + rnd.nextInt(50), hexSym(w)))
    for (rounds <- Seq(1000, 32768)) {
      val t0 = System.nanoTime()
      val res = Text.bpeTrainDriver(dict, rounds)
      val trainS = (System.nanoTime() - t0) / 1e9
      val rules = res.merges.map { case (_, l, r, _) => (l, r) }.toArray
      val sample = dict.take(20000).map(_._2).toArray
      def time(name: String)(enc: String => Int): Unit = {
        var sink = 0
        sink += sample.map(enc).sum // warm
        val runs = (1 to 3).map { _ =>
          val s0 = System.nanoTime()
          var i = 0
          while (i < sample.length) { sink += enc(sample(i)); i += 1 }
          (System.nanoTime() - s0) / 1e9
        }
        println(f"  rules=${rules.length}%6d $name%6s  min ${runs.min}%7.3f s" +
          f" over ${sample.length} words" +
          f" (${runs.min / sample.length * 1e6}%8.2f us/word, sink=$sink)")
      }
      println(f"BPE encode kernel at ${rules.length} learned rules " +
        f"(trained in $trainS%.2f s):")
      val rank = Text.bpeRankOf(rules)
      time("cursor")(s => Text.bpeEncodeSymsRank(s, rules, rank).length)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("bpeenc")) { bpeEncSuite(); return }
    val rnd = new scala.util.Random(7)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi",
      "omicron", "pi")
    def doc(n: Int) = UTF8String.fromString(
      (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    println("shingle_fps per-doc cost by length (flat us/token = linear):")
    for (n <- Seq(250, 1000, 4000, 16000, 64000)) {
      val d = doc(n)
      (1 to 5).foreach(_ => ShingleFps.compute(d))
      val reps = math.max(3, 200000 / n)
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => ShingleFps.compute(d))
      val us = (System.nanoTime() - t0) / 1e3 / reps
      println(f"  tokens=$n%6d  $us%10.1f us/doc  (${us / n}%6.3f us/token)")
    }
  }
}
