package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins t21's BPE-training contract: the merge-learning loop on
  * hand-built dictionaries with hand-derived expected merges, the
  * separator-consuming `replace` semantics on same-symbol runs, and
  * the non-increasing-counts invariant that justifies gating the
  * learned table against the unrolled DuckDB oracle.
  */
class TextBpeSpec extends AnyFunSuite {
  import TestSpark._

  private def vocab(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (f, sym) => (sym.replace(" ", ""), f, sym) }
      .toDF("word", "freq", "sym")
  }

  /** Sennrich-style toy dictionary (no end-of-word marker in our
    * variant): low×5, lower×2, newest×6, widest×3.
    */
  private val classic = Seq(
    (5L, "l o w"), (2L, "l o w e r"),
    (6L, "n e w e s t"), (3L, "w i d e s t"))

  test("learns the hand-derived merge sequence on the classic corpus") {
    // Worked by hand: pair counts round 1 peak at 9 for {e s, s t};
    // ties break by pair string ascending. The merge loop is
    // alphabet-agnostic (corpus paths feed it hex byte symbols), so
    // letter symbols keep the hand derivation readable.
    val m = Text.bpeTrainDriver(classic, rounds = 8).merges
    assert(m === Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L),
      (5, "e", "w", 6L), (6, "ew", "est", 6L),
      (7, "n", "ewest", 6L), (8, "d", "est", 3L)))
  }

  test("same-symbol runs merge leftmost-first, non-overlapping") {
    // "a a a a": round 1 counts 3 occurrences of (a, a) but the
    // separator-consuming replace applies only ONE merge → "aa a a",
    // so round 2 still finds (a, a) once (tie vs (aa, a) broken by
    // pair ascending). A two-merge application ("aa aa") would leave
    // no (a, a) for round 2 — this pins the documented deviation
    // from canonical BPE, mirrored exactly by the DuckDB oracle.
    val m = Text.bpeTrainDriver(Seq((1L, "a a a a")), rounds = 2).merges
    assert(m === Seq((1, "a", "a", 3L), (2, "a", "a", 1L)))
  }

  test("winning counts are non-increasing and merges well-formed on sf0.001") {
    val rows = Text.bpeTrain(spark, sfDir).collect()
    assert(rows.length === Text.bpeRounds)
    val counts = rows.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"counts not non-increasing: ${counts.mkString(",")}")
    rows.foreach { r =>
      assert(r.getString(3) === r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0L)
    }
    // rounds are 1..k in order
    assert(rows.map(_.getInt(0)).toSeq === (1 to Text.bpeRounds))
  }

  test("encode dictionary tokenizes the classic corpus as hand-derived") {
    // after the 8 learned merges: low→[low], lower→[low,e,r],
    // newest→[newest], widest→[w,i,dest] (chain applied in round
    // order, separator-consuming replace — worked by hand)
    val m = Text.bpeTrainDriver(classic, rounds = 8).merges
    val d = Text.bpeEncodeDictUnder(m, vocab(classic: _*))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d === Map("low" -> 1, "lower" -> 3, "newest" -> 1,
      "widest" -> 3))
  }

  test("t22 encode: token counts bounded by bytes and words on sf0.001") {
    val out = Text.bpeEncode(spark, sfDir)
    assert(out.columns.toSeq === Seq("doc_id", "n_words", "n_tokens"))
    // every word is >=1 token and merges only shrink the symbol
    // count, so n_words <= n_tokens <= total word UTF-8 bytes
    val bytes = Text.bpeVocab(spark, sfDir)
      .selectExpr("sum(freq * octet_length(word))").first().getLong(0)
    val agg = out.selectExpr(
      "sum(n_words)", "sum(n_tokens)",
      "sum(case when n_tokens < n_words then 1 else 0 end)").first()
    assert(agg.getLong(2) === 0L)
    assert(agg.getLong(1) >= agg.getLong(0))
    assert(agg.getLong(1) <= bytes)
    // the learned merges actually fired: strictly fewer tokens than bytes
    assert(agg.getLong(1) < bytes)
    // doc coverage: one row per document, including wordless ones
    assert(out.count() === Tables.documents(spark, sfDir).count())
  }

  /** Independent pure-Scala trainer implementing the documented
    * contract (pair counts weighted by freq over adjacent symbols,
    * winner by (cnt DESC, pair ASC), merge applied as one
    * leftmost-first non-overlapping separator-consuming replace per
    * word) — no Spark expressions, so an engine/oracle spelling bug
    * cannot hide in a shared implementation.
    */
  private def refBpe(vocab: Seq[(Long, String)], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var words = vocab
    val out = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((f, sym) <- words) {
        val ss = sym.split(" ")
        for (i <- 0 until ss.length - 1)
          counts((ss(i), ss(i + 1))) += f
      }
      if (counts.isEmpty) return out.toList
      val ((l, r), c) = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l + " " + r) }.head
      out += ((round, l, r, c))
      words = words.map { case (f, sym) =>
        (f, (" " + sym + " ").replace(s" $l $r ", s" $l$r ").trim)
      }
    }
    out.toList
  }

  test("random vocabularies: engine merges equal the pure-Scala reference") {
    // deterministic seeded fuzz: words over {a,b,c} keep pair
    // collisions (and ties) frequent, so the tie-break and the
    // same-symbol-run replace semantics are both exercised hard (the
    // trainer loop at t21's shallow depth)
    val rnd = new scala.util.Random(13)
    val rounds = 3
    var checked = 0
    var attempts = 0
    while (checked < 10 && attempts < 60) {
      attempts += 1
      val words = Seq.fill(3 + rnd.nextInt(6)) {
        (1 to (1 + rnd.nextInt(6)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val fixed = words.map(w => (1L + rnd.nextInt(9), w.toSeq.mkString(" ")))
      val ref = refBpe(fixed, rounds)
      if (ref.length == rounds) { // enough mergeable pairs to train
        val got = Text.bpeTrainDriver(fixed, rounds).merges
        assert(got === ref,
          s"divergence on vocab ${fixed.mkString("[", ", ", "]")}")
        checked += 1
      }
    }
    assert(checked === 10, s"only $checked/10 usable cases in $attempts")
  }

  test("driver trainer: random vocabularies equal the pure-Scala reference") {
    // the t25 in-memory trainer must implement EXACTLY the refBpe
    // contract (pair weighting, (cnt DESC, pair ASC) tie-break,
    // separator-consuming replace) — fuzzed over the same
    // collision-heavy {a,b,c} space as the Spark loop
    val rnd = new scala.util.Random(47)
    var checked = 0
    var attempts = 0
    while (checked < 15 && attempts < 90) {
      attempts += 1
      val words = Seq.fill(3 + rnd.nextInt(8)) {
        (1 to (1 + rnd.nextInt(7)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val fixed = words.map(w => (1L + rnd.nextInt(9), w.toSeq.mkString(" ")))
      val rounds = 1 + rnd.nextInt(10)
      val ref = refBpe(fixed, rounds)
      if (ref.length == rounds) {
        val got = Text.bpeTrainDriver(fixed, rounds)
        assert(got.merges === ref,
          s"divergence on vocab ${fixed.mkString("[", ", ", "]")}")
        assert(!got.exhausted)
        checked += 1
      }
    }
    assert(checked === 15, s"only $checked/15 usable cases in $attempts")
  }

  test("driver trainer: 1000-merge run equals the reference merge-for-merge") {
    // the verdict's production-vocab bar: exact merge-table equality
    // at vocab 1256 on a dictionary rich enough to sustain 1000
    // rounds (the naive reference recounts every pair every round —
    // quadratic but fine at spec scale)
    val rnd = new scala.util.Random(83)
    val alphabet = "abcdefgh"
    val words = Seq.fill(900) {
      (1 to (4 + rnd.nextInt(9)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val fixed = words.map(w => (1L + rnd.nextInt(50), w.toSeq.mkString(" ")))
    val rounds = 1000
    val ref = refBpe(fixed, rounds)
    assert(ref.length === rounds, s"dictionary exhausted at ${ref.length}")
    val got = Text.bpeTrainDriver(fixed, rounds, checkpointRound = 12)
    assert(got.merges === ref)
    assert(!got.exhausted)
    // compression accounting: totals strictly fall 0 → 12 → 1000
    assert(got.tokensFinal < got.tokensAtCheckpoint)
    assert(got.tokensAtCheckpoint < got.tokensInitial)
  }

  test("driver trainer prefix equals the oracle-gated t21 artifact on sf0.001") {
    val dict = Text.bpeVocab(spark, sfDir)
      .select("freq", "sym").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val fast = Text.bpeTrainDriver(dict, Text.bpeRounds)
    assert(fast.merges === Text.bpeMerges(spark, sfDir).toList)
  }

  test("t25 bands are all TRUE on sf0.001") {
    val row = Text.bpeTrainLarge(spark, sfDir).collect()
    assert(row.length === 1)
    val r = row(0)
    (0 until r.length).foreach { i =>
      assert(r.getBoolean(i), s"band ${Text.bpeTrainLarge(spark, sfDir)
        .columns(i)} is false")
    }
  }

  test("large-vocab encoder equals the naive per-rule replace fold (fuzz)") {
    // t27's in-executor encoder (presence-set skip + bpeApplyMerge)
    // vs the INDEPENDENT string-replace spelling of the same contract
    // — the trainer/oracle's ' l r ' → ' lr ' rewrite applied rule by
    // rule in rank order
    def naiveEncode(sym: String, rules: Seq[(String, String)]): Int =
      rules.foldLeft(sym) { case (s, (l, r)) =>
        (" " + s + " ").replace(s" $l $r ", s" $l$r ").trim
      }.split(" ").length
    val rnd = new scala.util.Random(101)
    for (_ <- 1 to 40) {
      // train a real rule list on a random vocab, then encode OTHER
      // random words under it (the production encode situation)
      val vocabWords = Seq.fill(6 + rnd.nextInt(8)) {
        (1 to (2 + rnd.nextInt(6)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val fixed = vocabWords.map(w => (1L + rnd.nextInt(9), w.toSeq.mkString(" ")))
      val rules = refBpe(fixed, 8).map { case (_, l, r, _) => (l, r) }
      for (_ <- 1 to 5) {
        val word = (1 to (1 + rnd.nextInt(10)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        val sym = word.toSeq.mkString(" ")
        assert(Text.bpeEncodeSymsLargeArr(sym, rules.toArray).length ===
          naiveEncode(sym, rules),
          s"divergence on '$word' under ${rules.mkString(",")}")
      }
    }
  }

  test("t27 distributed large-vocab dictionary equals the naive fold on sf0.001") {
    def naiveEncode(sym: String, rules: Seq[(String, String)]): Int =
      rules.foldLeft(sym) { case (s, (l, r)) =>
        (" " + s + " ").replace(s" $l $r ", s" $l$r ").trim
      }.split(" ").length
    val merges = Text.bpeLargeTrain(spark, sfDir).merges
    val rules = merges.map { case (_, l, r, _) => (l, r) }
    val vocab = Text.bpeVocab(spark, sfDir)
      .select("word", "sym").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val dict = Text.bpeEncodeDictUnder(merges, Text.bpeVocab(spark, sfDir),
      "ntok_large").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(dict.length === vocab.size)
    dict.foreach { case (w, n) =>
      assert(n === naiveEncode(vocab(w), rules), s"divergence on '$w'")
    }
  }

  test("t27 bands are all TRUE on sf0.001") {
    val df = Text.bpeEncodeLarge(spark, sfDir)
    val row = df.collect()
    assert(row.length === 1)
    val r = row(0)
    (0 until r.length).foreach { i =>
      assert(r.getBoolean(i), s"band ${df.columns(i)} is false")
    }
  }

  test("map-side ntok expression equals the dictionary over the full vocabulary") {
    // w15 applies the frozen tokenizer per occurrence (bpeNtokUdf over
    // the word's byte split); t22 joins the per-distinct-word
    // dictionary built by bpeEncodeDictUnder. The two must agree on
    // EVERY trained word or the stream and batch accountings drift.
    import org.apache.spark.sql.functions.col
    val merges = Text.bpeMerges(spark, sfDir)
    val ntok = Text.bpeNtokUdf(merges)
    val dict = Text.bpeEncodeDictUnder(merges, Text.bpeVocab(spark, sfDir))
    val diff = dict
      .withColumn("m", ntok(Text.byteSym(col("word"))))
      .filter(col("m") =!= col("ntok")).count()
    assert(diff === 0L)
  }

  test("bpeMerges equals a direct bpeTrainAt run") {
    // t21's frozen table is the trainer's own result on the same
    // corpus: no wrapper may alter a merge row
    val direct = Text.bpeTrainAt(spark, sfDir, Text.bpeRounds,
      checkpointRound = 0)
    assert(Text.bpeMerges(spark, sfDir) === direct.merges)
  }

  test("merge tables train once per corpus and again after a rewrite") {
    // the corpus fingerprint in bpeTrainAt's memo key is the only thing
    // that invalidates a merge table: an unchanged corpus reuses the
    // trained table, a corpus rewritten in place trains a new one
    import org.apache.spark.sql.functions.col
    val corpus = java.nio.file.Files.createTempDirectory("bpespec_once")
    TempArtifacts.register(corpus)
    val docs = corpus.resolve("documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"), docs)
    val dir = corpus.toString
    val first = Text.bpeMerges(spark, dir)
    val b0 = PlanMemo.builds
    assert(Text.bpeMerges(spark, dir) === first)
    assert(PlanMemo.builds === b0, "an unchanged corpus must not re-train")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(docs.toString)
    val second = Text.bpeMerges(spark, dir)
    assert(PlanMemo.builds > b0, "a rewritten corpus must re-train")
    assert(second !== first, "the re-trained table must count the new corpus")
  }

  test("vocabulary pass aggregates distinct words as hex byte symbols") {
    val v = Text.bpeVocab(spark, sfDir)
    assert(v.columns.toSeq === Seq("word", "freq", "sym"))
    val dup = v.groupBy("sym").count().filter("count > 1").count()
    assert(dup === 0L)
    // symbol strings are hex byte pairs joined by single spaces, and
    // unhexing the joined string recovers the word's exact UTF-8 bytes
    val bad = v.filter(
      "sym rlike ' {2,}' or sym rlike '^ ' or sym rlike ' $' " +
        "or replace(sym, ' ', '') not rlike '^([0-9A-F]{2})+$' " +
        "or decode(unhex(replace(sym, ' ', '')), 'UTF-8') != word").count()
    assert(bad === 0L)
  }

  test("t24 token-id sequences agree with t22's counts and the id layout") {
    import org.apache.spark.sql.functions.col
    val ids = Text.bpeTokenIds(spark, sfDir)
    assert(ids.columns.toSeq === Seq("doc_id", "n_tokens", "ids_md5"))
    // internal consistency: the sequence length per doc IS t22's
    // token count — two independent spellings of the same tokenizer
    val enc = Text.bpeEncode(spark, sfDir)
      .select(col("doc_id"), col("n_tokens").cast("int").as("n22"))
    val diff = ids.join(enc, "doc_id")
      .filter(col("n_tokens") =!= col("n22")).count()
    assert(diff === 0L)
    // one row per doc; digests are md5-shaped; empty docs digest ""
    assert(ids.count() === Tables.documents(spark, sfDir).count())
    val bad = ids.filter("ids_md5 not rlike '^[0-9a-f]{32}$'").count()
    assert(bad === 0L)
  }

  test("t26 fertility: totals conserve t22's accounting, ratios bounded") {
    import org.apache.spark.sql.functions.col
    val fert = Text.tokenizerFertility(spark, sfDir)
    assert(fert.columns.toSeq === Seq("lang", "n_words", "n_tokens",
      "n_bytes", "bytes_per_token", "tokens_per_word"))
    val rows = fert.collect()
    assert(rows.nonEmpty)
    // per-lang totals re-sum to t22's corpus-wide accounting — two
    // independent groupings of the same frozen tokenizer
    val enc = Text.bpeEncode(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_words"),
        org.apache.spark.sql.functions.sum("n_tokens")).head()
    assert(rows.map(_.getLong(1)).sum === enc.getLong(0))
    assert(rows.map(_.getLong(2)).sum === enc.getLong(1))
    rows.foreach { r =>
      // every token carries >= 1 byte; every word is >= 1 token
      assert(r.getDouble(4) >= 1.0, s"bytes_per_token < 1 for ${r.get(0)}")
      assert(r.getDouble(5) >= 1.0, s"tokens_per_word < 1 for ${r.get(0)}")
      assert(r.getLong(3) >= r.getLong(2))
      assert(r.getLong(2) >= r.getLong(1))
    }
    // the learned merges actually compress: corpus-wide bpt > 1
    assert(rows.map(_.getLong(3)).sum > rows.map(_.getLong(2)).sum)
  }

  test("t29 id layout: base bytes, earliest-rule ties, naive-fold equality") {
    // layout unit: rules ("61 62"→"6162") at round 1 and ("6162 63")
    // at round 2; a later duplicate-producing rule must NOT steal the
    // id (earliest rule wins, t24's convention)
    val rules = Array(("61", "62"), ("6162", "63"))
    val idOf = Map("6162" -> 256, "616263" -> 257)
    val syms = Text.bpeEncodeSymsLargeArr("61 62 63 64", rules)
    assert(syms.toSeq === Seq("616263", "64"))
    val ids = syms.map(s => idOf.getOrElse(s, Integer.parseInt(s, 16)))
    assert(ids.toSeq === Seq(257, 0x64))
    // fuzz: dictionary ids on sf0.001 re-derived independently — the
    // naive per-rule replace fold over the trained large merge list,
    // then the same earliest-rule map — must agree word-for-word
    val res = Text.bpeLargeTrain(spark, sfDir)
    val naiveRules = res.merges.map { case (_, l, r, _) => (l, r) }
    val naiveIdOf = res.merges
      .groupBy { case (_, l, r, _) => l + r }
      .view.mapValues(_.map(m => 255 + m._1).min).toMap
    val dict = Text.bpeIdsDictUnder(res.merges, Text.bpeVocab(spark, sfDir))
      .collect().map(r => (r.getString(0),
        r.getSeq[Int](1).toList, r.getBoolean(2))).toList
    assert(dict.nonEmpty)
    dict.foreach { case (w, ids29, rt) =>
      assert(rt, s"roundtrip failed for '$w'")
      val sym = w.getBytes("UTF-8").map("%02X".format(_)).mkString(" ")
      val folded = naiveRules.foldLeft(sym) { case (e, (l, r)) =>
        (" " + e + " ").replace(s" $l $r ", s" $l$r ").trim
      }
      val naiveIds = folded.split(" ").toList
        .map(s => naiveIdOf.getOrElse(s, Integer.parseInt(s, 16)))
      assert(ids29 === naiveIds, s"id divergence on '$w'")
    }
  }

  test("t29 bands are all TRUE on sf0.001") {
    // hoist the frame ONCE: ScalaTest evaluates the clue string even
    // on passing asserts, and bpeIdsLarge runs eager Spark actions at
    // construction — an inline call in the clue re-runs the whole
    // band pipeline per column
    val df = Text.bpeIdsLarge(spark, sfDir)
    val row = df.head()
    val cols = df.columns
    (0 until row.length).foreach(i => assert(row.getBoolean(i),
      s"band ${cols(i)} is false"))
  }

  test("t28 decode roundtrips the word stream byte-for-byte") {
    import org.apache.spark.sql.functions.{array_join, col}
    val dec = Text.bpeDecode(spark, sfDir)
    assert(dec.columns.toSeq === Seq("doc_id", "decoded"))
    // engine-side twin of the oracle: the word stream straight off
    // the raw text, never touching ids — a mismatch means some id
    // mapped to the wrong bytes somewhere in the encode+decode chain
    val expect = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_join(Text.bpeWords(col("text")), "").as("exp"))
    val diff = dec.join(expect, "doc_id")
      .filter(col("decoded") =!= col("exp")).count()
    assert(diff === 0L)
    assert(dec.count() === Tables.documents(spark, sfDir).count())
  }

  test("byte-level fuzz: multi-byte UTF-8 vocabularies match the reference") {
    // words mixing 1-byte (ascii), 2-byte (é/ü) and 3-byte (中) chars;
    // sym built by an independent pure-Scala hex-pair byte split, so
    // this also pins bpeVocab's hex spelling against the merge loop
    def hexSym(w: String): String =
      w.getBytes("UTF-8").map("%02X".format(_)).mkString(" ")
    val alphabet = Array("a", "b", "é", "ü", "中", "!", "9")
    val rnd = new scala.util.Random(29)
    val rounds = 3
    var checked = 0
    var attempts = 0
    while (checked < 10 && attempts < 60) {
      attempts += 1
      val words = Seq.fill(3 + rnd.nextInt(6)) {
        (1 to (1 + rnd.nextInt(5)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      val fixed = words.map(w => (1L + rnd.nextInt(9), hexSym(w)))
      val ref = refBpe(fixed, rounds)
      if (ref.length == rounds) {
        val got = Text.bpeTrainDriver(fixed, rounds).merges
        assert(got === ref,
          s"divergence on vocab ${fixed.mkString("[", ", ", "]")}")
        // merged symbols stay even-length hex (byte concatenations)
        got.foreach { case (_, l, r, _) =>
          assert((l + r).matches("^([0-9A-F]{2})+$")) }
        checked += 1
      }
    }
    assert(checked === 10, s"only $checked/10 usable cases in $attempts")
  }

  // ----------------------------------------------------------------
  // t30/t31/t32 — the production (32k-target) vocabulary family

  test("rank-cursor encoder equals the rank-ordered fold (fuzz)") {
    // bpeEncodeSymsRank (the O(|word|²) production encode) vs
    // bpeEncodeSymsLargeArr (the O(rules) fold, itself fuzz-pinned to
    // the naive string-replace reference above) — exact ARRAY
    // equality, on trained tables over run-heavy alphabets where the
    // alternate-occurrence replace leaves residual pairs and the same
    // pair holds multiple ranks
    val rnd = new scala.util.Random(211)
    for (round <- 1 to 30) {
      val words = Seq.fill(5 + rnd.nextInt(10)) {
        (1 to (2 + rnd.nextInt(9)))
          .map(_ => ('a' + rnd.nextInt(2)).toChar).mkString // {a,b}: runs
      }.distinct
      val fixed = words.map(w => (1L + rnd.nextInt(9), w.toSeq.mkString(" ")))
      val res = Text.bpeTrainDriver(fixed, 20)
      val rules = res.merges.map { case (_, l, r, _) => (l, r) }.toArray
      val rank = Text.bpeRankOf(rules)
      for (_ <- 1 to 8) {
        val word = (1 to (1 + rnd.nextInt(12)))
          .map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
        val sym = word.toSeq.mkString(" ")
        assert(Text.bpeEncodeSymsRank(sym, rules, rank).toSeq ===
          Text.bpeEncodeSymsLargeArr(sym, rules).toSeq,
          s"divergence on '$word' (case $round) under " +
            rules.mkString(","))
      }
    }
  }

  test("duplicate-pair ranks exist in trained tables and the cursor handles them") {
    // "a a a a" trains (a,a) at rounds 1 AND 2 (the pinned
    // alternate-occurrence deviation) — the rank map must carry BOTH
    // ranks or the cursor encode diverges from the fold after rank 1
    val res = Text.bpeTrainDriver(Seq((1L, "a a a a")), 3)
    val pairs = res.merges.map { case (_, l, r, _) => (l, r) }
    assert(pairs.count(_ == ("a", "a")) >= 2, s"no duplicate in $pairs")
    val rules = pairs.toArray
    val rank = Text.bpeRankOf(rules)
    assert(rank("a a").length >= 2)
    for (sym <- Seq("a a a a", "a a a a a a", "a a", "a a a")) {
      assert(Text.bpeEncodeSymsRank(sym, rules, rank).toSeq ===
        Text.bpeEncodeSymsLargeArr(sym, rules).toSeq,
        s"divergence on '$sym'")
    }
  }

  test("t30 production target and the sf0.001 exhaustion regime") {
    assert(Text.bpeProdVocabTarget === 256 + 32768)
    // the fixture corpus's merge capacity is far below even the 1k
    // target, so BOTH trains exhaust at the same table — pinning the
    // regime t31's vacuous per-lang band and t32's equal-totals rely
    // on (the extended regime is gated on the GenData rich classes)
    val prod = Text.bpeProdTrain(spark, sfDir)
    val large = Text.bpeLargeTrain(spark, sfDir)
    assert(prod.exhausted && large.exhausted)
    assert(prod.merges === large.merges)
  }

  test("t30 bands are all TRUE on sf0.001") {
    val df = Text.bpeTrainProd(spark, sfDir)
    val row = df.head()
    val cols = df.columns
    (0 until row.length).foreach(i => assert(row.getBoolean(i),
      s"band ${cols(i)} is false"))
  }

  test("t31 bands are all TRUE on sf0.001") {
    val df = Text.bpeEncodeProd(spark, sfDir)
    val row = df.head()
    val cols = df.columns
    (0 until row.length).foreach(i => assert(row.getBoolean(i),
      s"band ${cols(i)} is false"))
  }

  test("t32 bands are all TRUE on sf0.001") {
    val df = Text.bpeIdsProd(spark, sfDir)
    val row = df.head()
    val cols = df.columns
    (0 until row.length).foreach(i => assert(row.getBoolean(i),
      s"band ${cols(i)} is false"))
  }

  test("t31 strictness is real when the production table extends the 1k table") {
    // drive the EXTENDED regime on a synthetic dictionary rich enough
    // to out-train a small "1k-stand-in" prefix: totals must strictly
    // improve, and the prefix-table encode never beats the longer one
    val rnd = new scala.util.Random(311)
    val words = Seq.fill(400) {
      (1 to (4 + rnd.nextInt(8)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    }.distinct
    val fixed = words.map(w => (1L + rnd.nextInt(20), w.toSeq.mkString(" ")))
    val small = Text.bpeTrainDriver(fixed, 40)
    val big = Text.bpeTrainDriver(fixed, 400)
    assert(big.merges.take(small.merges.length) === small.merges)
    assert(big.merges.length > small.merges.length)
    val rulesS = small.merges.map { case (_, l, r, _) => (l, r) }.toArray
    val rulesB = big.merges.map { case (_, l, r, _) => (l, r) }.toArray
    val (rankS, rankB) = (Text.bpeRankOf(rulesS), Text.bpeRankOf(rulesB))
    var (totS, totB) = (0L, 0L)
    fixed.foreach { case (f, sym) =>
      val nS = Text.bpeEncodeSymsRank(sym, rulesS, rankS).length
      val nB = Text.bpeEncodeSymsRank(sym, rulesB, rankB).length
      assert(nB <= nS, s"longer table worsened '$sym'")
      totS += f * nS; totB += f * nB
    }
    assert(totB < totS)
  }

  // ----- round-18: executor-side trainer above the driver budget -----

  test("distributed trainer: random vocabularies bit-identical to the driver trainer") {
    // the whole BpeDriverTrain — merge table with counts, exhaustion,
    // token accounting — must be EQUAL, over the same collision-heavy
    // {a,b,c} space that pins the driver trainer to refBpe. Small
    // vocabularies maximize the nasty paths: one-pair queues, batch
    // size 1, duplicate pair wins across steps, alias stops.
    val rnd = new scala.util.Random(101)
    var checked = 0
    var attempts = 0
    while (checked < 8 && attempts < 40) {
      attempts += 1
      val words = Seq.fill(3 + rnd.nextInt(8)) {
        (1 to (1 + rnd.nextInt(7)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val fixed = words.map(w => (1L + rnd.nextInt(9), w.toSeq.mkString(" ")))
      val rounds = 1 + rnd.nextInt(10)
      val ck = rnd.nextInt(rounds + 1)
      val drv = Text.bpeTrainDriver(fixed, rounds, checkpointRound = ck)
      val dist = BpeDist.train(spark, vocab(fixed: _*), rounds,
        checkpointRound = ck)
      assert(dist === drv,
        s"divergence on vocab ${fixed.mkString("[", ", ", "]")} " +
          s"rounds=$rounds ck=$ck")
      checked += 1
    }
    assert(checked === 8)
  }

  test("distributed trainer: duplicate pair wins and exhaustion match the driver") {
    // "a a a a": (a,a) wins rounds 1 AND 2 (residual occurrence after
    // the alternate-occurrence replace) — the distributed queue must
    // re-elect the same pair from its deltas; then train PAST
    // exhaustion and compare the flag and final totals
    for (rounds <- Seq(2, 3, 10)) {
      val drv = Text.bpeTrainDriver(Seq((1L, "a a a a")), rounds)
      val dist = BpeDist.train(spark, vocab((1L, "a a a a")), rounds)
      assert(dist === drv, s"rounds=$rounds")
    }
    assert(BpeDist.train(spark, vocab((1L, "a a a a")), 10).exhausted)
  }

  test("distributed trainer: 300-merge run bit-identical with checkpoint accounting") {
    // a dictionary rich enough for hundreds of rounds on a tight
    // alphabet (batches stay short — the adversarial pacing path)
    // with the checkpoint INSIDE the run, so the batch capper must
    // land a step boundary exactly on it
    val rnd = new scala.util.Random(181)
    val words = Seq.fill(500) {
      (1 to (4 + rnd.nextInt(9)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    }.distinct
    val fixed = words.map(w => (1L + rnd.nextInt(50), w.toSeq.mkString(" ")))
    val drv = Text.bpeTrainDriver(fixed, 300, checkpointRound = 37)
    val dist = BpeDist.train(spark, vocab(fixed: _*), 300,
      checkpointRound = 37)
    assert(dist === drv)
    assert(dist.tokensFinal < dist.tokensAtCheckpoint)
    assert(dist.tokensAtCheckpoint < dist.tokensInitial)
  }

  test("bpeTrainAt delegates above the driver dictionary budget") {
    // force the gate (budget 0) on the real sf0.001 corpus with a
    // (rounds, checkpoint) pair no other path memoizes, and pin the
    // delegated result equal to the in-memory trainer on the same
    // dictionary
    val got = Text.bpeTrainAt(spark, sfDir, rounds = 13,
      checkpointRound = 5, budget = 0L)
    val dict = Text.bpeVocab(spark, sfDir)
      .select("freq", "sym").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val drv = Text.bpeTrainDriver(dict, 13, checkpointRound = 5)
    assert(got === drv)
  }

  test("a corpus with fewer mergeable pairs than t21's rounds fails loudly") {
    // two distinct byte pairs in the whole corpus: training exhausts at
    // round 3, and bpeMerges must raise on EVERY call — a short table
    // must never reach the oracle-gated t21
    val s = spark
    import s.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("bpespec_short")
    TempArtifacts.register(corpus)
    val dir = corpus.toString
    Seq((1L, "ab cd a"), (2L, "cd b ab")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    for (_ <- 1 to 2) {
      val e = intercept[IllegalArgumentException](Text.bpeMerges(spark, dir))
      assert(e.getMessage.contains("ran out of mergeable pairs at round 3"))
    }
  }
}
