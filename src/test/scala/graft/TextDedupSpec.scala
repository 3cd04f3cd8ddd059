package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Text-analysis and dedup invariants on the sf0.001 documents table
  * plus tokenization edge fixtures.
  */
class TextDedupSpec extends AnyFunSuite {
  import TestSpark._

  private def strDf(vals: String*) = {
    val s = spark
    import s.implicits._
    vals.toDF("text")
  }

  test("tokens: splits on single space and drops empties") {
    val out = strDf(" a  b ", "", "one")
      .select(size(Text.tokens(col("text")))).collect().map(_.getInt(0))
    assert(out.toSeq === Seq(2, 0, 1))
  }

  test("fp64 fingerprint is non-negative and below 2^60") {
    val rows = Tables.documents(spark, sfDir)
      .select(Text.fp64(col("text")).as("fp"))
      .agg(min("fp"), max("fp")).head()
    assert(rows.getLong(0) >= 0L)
    assert(rows.getLong(1) < (1L << 60))
  }

  test("quality scores are bounded: ratios and blended score in [0,1]") {
    val bad = Text.qualityScores(spark, sfDir).filter(
      col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
        col("uniq_ratio") <= 0 || col("uniq_ratio") > 1 ||
        col("quality_score") < 0 || col("quality_score") > 1).count()
    assert(bad === 0)
  }

  test("d14 semantic dedup: planted triples collapse to their decade base") {
    val out = Dedup.semanticDedup(spark, sfDir)
    val planted = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 10 === 7 || col("vec_id") % 10 === 9).count()
    // every planted member is a dup of its decade base; nothing else
    // pairs (background cosine ≤ ~0.52 vs θ = 0.9)
    val wrong = out.filter(
      when(col("vec_id") % 10 === 7 || col("vec_id") % 10 === 9,
        col("is_dup") =!= 1 ||
          col("sem_cluster") =!= col("vec_id") - col("vec_id") % 10)
        .otherwise(col("is_dup") =!= 0 || col("sem_cluster") =!= col("vec_id")))
      .count()
    assert(wrong === 0)
    assert(out.filter(col("is_dup") === 1).count() === planted)
  }

  test("t16 c4 clean: page rules fire by priority and keep is consistent") {
    val out = Text.c4Clean(spark, sfDir)
    // planted brace pages always drop as 'brace'; lorem pages (not
    // also brace) drop as 'lorem'; keep implies empty reason + quota
    val bad = out.filter(
      when(col("doc_id") % 13 === 5, col("drop_reason") =!= "brace")
        .otherwise(when(col("doc_id") % 11 === 4, col("drop_reason") =!= "lorem")
          .otherwise(col("page_keep") === 1 &&
            (col("drop_reason") =!= "" || col("n_kept") < Text.c4MinKept))))
      .count()
    assert(bad === 0)
    // every rule class is non-empty on the fixture
    val reasons = out.select("drop_reason").distinct().collect()
      .map(_.getString(0)).toSet
    assert(reasons === Set("", "brace", "lorem", "few_sentences"))
  }

  test("t17 gopher rules: every rule fires, flags agree with their metrics") {
    val out = Text.gopherRules(spark, sfDir)
    // each pass flag must restate its metric; gopher_pass is the AND
    val bad = out.filter(
      col("pass_symbol") =!= (col("symbol_ratio") <= 0.1).cast("int") ||
        col("pass_alpha") =!= (col("alpha_ratio") >= 0.8).cast("int") ||
        col("pass_stop") =!= (col("n_stop") >= 2).cast("int") ||
        col("gopher_pass") =!= (col("pass_words") === 1 &&
          col("pass_word_len") === 1 && col("pass_symbol") === 1 &&
          col("pass_alpha") === 1 && col("pass_stop") === 1).cast("int"))
      .count()
    assert(bad === 0)
    // the planted tails make every rule fire somewhere (and pass
    // somewhere): no flag column is constant over the corpus
    for (f <- Seq("pass_words", "pass_symbol", "pass_alpha", "pass_stop"))
      assert(out.select(f).distinct().count() === 2, s"$f is constant")
    // symbol tails: planted '#'/'...' docs have nonzero symbol ratio
    assert(out.filter(col("doc_id") % 7 < 2 && col("symbol_ratio") <= 0).count() === 0)
  }

  test("t18 DSIR weights: target language scores above every other slice") {
    val w = Text.dsirWeights(spark, sfDir)
    // token counts restate the tokenizer
    val bad = w.join(Tables.documents(spark, sfDir), "doc_id")
      .filter(col("n_tokens") =!= size(Text.tokens(lower(col("text")))))
      .count()
    assert(bad === 0)
    // the importance weight must rank the target distribution first in
    // expectation: mean(en) strictly above mean(every other lang)
    val means = w.groupBy("lang").agg(avg("dsir_weight").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val en = means(Text.dsirTargetLang)
    means.filterNot(_._1 == Text.dsirTargetLang).foreach { case (l, m) =>
      assert(en > m, f"en mean $en%.4f not above $l mean $m%.4f")
    }
  }

  test("t19 CDC chunks: internally consistent, boundaries content-driven") {
    val out = Text.cdcChunks(spark, sfDir).cache()
    val bad = out.filter(
      col("n_chunks") < 1 || col("n_chunks") > col("n_tokens") ||
        col("max_chunk_tokens") * col("n_chunks") < col("n_tokens") ||
        col("boundary_density") =!= Exact.round4(
          col("n_chunks").cast("double") / col("n_tokens")) ||
        col("mean_chunk_tokens") =!= Exact.round4(
          col("n_tokens").cast("double") / col("n_chunks")))
      .count()
    assert(bad === 0)
    // content-defined: boundaries actually fire (not one chunk per
    // doc) and are not the fixed grid (chunk counts vary at equal
    // token counts)
    assert(out.filter(col("n_chunks") > 1).count() > 0)
    val varied = out.groupBy("n_tokens")
      .agg(countDistinct("n_chunks").as("v"))
      .filter(col("v") > 1).count()
    assert(varied > 0, "chunk counts look like a fixed grid")
    out.unpersist()
  }

  test("d15 paragraph dedup: kept sums to distinct paragraphs, chunking exact") {
    val out = Dedup.paragraphDedup(spark, sfDir)
    // survivors across all docs = exactly one per distinct paragraph
    val distinctParas = Tables.documents(spark, sfDir)
      .select(explode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(size(filter(split(text, ' '), t -> t != ''))
           |    / ${Dedup.paraSize}.0) AS INT) - 1),
           |  i -> array_join(slice(filter(split(text, ' '), t -> t != ''),
           |    i * ${Dedup.paraSize} + 1, ${Dedup.paraSize}), ' '))""".stripMargin))
        .as("para"))
      .select(countDistinct("para")).head().getLong(0)
    val sums = out.agg(sum("n_kept"), sum("n_paras")).head()
    assert(sums.getLong(0) === distinctParas)
    assert(sums.getLong(0) <= sums.getLong(1))
    // chunk count per doc is ceil(tokens / paraSize)
    val badChunks = out.join(Tables.documents(spark, sfDir), "doc_id")
      .filter(col("n_paras") =!= ceil(
        size(Text.tokens(col("text"))).cast("double") / Dedup.paraSize))
      .count()
    assert(badChunks === 0)
  }

  test("d18 source rank: probability mass conserved, graph nodes covered") {
    val ranks = Dedup.sourceRank(spark, sfDir).collect()
    val nodes = Dedup.sourceOverlap(spark, sfDir)
      .select(explode(array(col("sa"), col("sb"))).as("s"))
      .distinct().count()
    assert(ranks.length === nodes)
    ranks.foreach(r => assert(r.getLong(1) > 0))
    // each round floors once per edge+once per node, so total mass
    // drifts below 1.0 by at most ~(edges + nodes) ulps of 1e-12
    val sum = ranks.map(_.getLong(1)).sum
    assert(sum <= Dedup.prScale)
    assert(sum >= Dedup.prScale - 1000L * Dedup.prIters)
    // presentation order is rank-descending
    ranks.map(_.getLong(1)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("d16 source overlap: ordered pairs, bounded by the smaller side") {
    val overlap = Dedup.sourceOverlap(spark, sfDir)
    assert(overlap.filter(col("sa") >= col("sb") || col("shared_paras") < 1)
      .count() === 0)
    // a pair can share at most the smaller side's distinct paragraphs
    val perSource = Dedup.paragraphDedup(spark, sfDir)
      .join(Tables.documents(spark, sfDir), "doc_id")
      .groupBy("source").agg(sum("n_paras").as("np"))
    val bad = overlap
      .join(perSource.withColumnRenamed("source", "sa"), "sa")
      .withColumnRenamed("np", "na")
      .join(perSource.withColumnRenamed("source", "sb"), "sb")
      .filter(col("shared_paras") > least(col("na"), col("np")))
      .count()
    assert(bad === 0)
  }

  test("exact dedup partitions the corpus: copies sum to doc count") {
    val total = Tables.documents(spark, sfDir).count()
    val agg = Dedup.exactDedup(spark, sfDir)
      .agg(sum("copies"), count(lit(1))).head()
    assert(agg.getLong(0) === total)
    assert(agg.getLong(1) <= total)
  }

  test("minhash LSH candidates are ordered pairs with 1..4 band hits") {
    val bad = Dedup.minhashLsh(spark, sfDir).filter(
      col("d1") >= col("d2") || col("n_bands") < 1 || col("n_bands") > 4).count()
    assert(bad === 0)
  }

  test("ngram jaccard pairs respect the threshold and symmetry-break") {
    val df = Dedup.ngramJaccard(spark, sfDir)
    assert(df.filter(col("jaccard") < Dedup.jaccardThreshold ||
      col("jaccard") > 1.0).count() === 0)
    assert(df.filter(col("d1") >= col("d2")).count() === 0)
  }

  test("d20 substring removal: conservation, d12 consistency, rewrite shape") {
    val d20 = Dedup.exactSubstringRemoval(spark, sfDir)
    assert(d20.columns.toSeq ===
      Seq("doc_id", "n_tok", "removed_tok", "cleaned"))
    // removal ⊆ detection: d12 counts duplicated tokens in EVERY
    // holder, d20 removes them only from the non-earliest holders
    val d12 = Dedup.dupNgramSpans(spark, sfDir)
      .select(col("doc_id"), col("dup_tokens"))
    assert(d20.join(d12, "doc_id")
      .filter(col("removed_tok") > col("dup_tokens")).count() === 0L)
    // conservation: the cleaned stream recounts to n_tok - removed_tok
    val bad = d20.filter(col("removed_tok") > 0)
      .filter(size(Text.tokens(col("cleaned"))) =!=
        col("n_tok") - col("removed_tok"))
    assert(bad.count() === 0L)
    // untouched docs emit no rewrite
    assert(d20.filter(col("removed_tok") === 0 && col("cleaned") =!= "")
      .count() === 0L)
    // cross-doc duplication exists ⟺ something was removed (every
    // duplicated hash has a non-earliest holder by definition)
    val dupSpans = Dedup.dupNgramSpans(spark, sfDir)
      .agg(sum("dup_windows")).head().getLong(0)
    val removedTotal = d20.agg(sum("removed_tok")).head().getLong(0)
    assert((dupSpans > 0L) === (removedTotal > 0L))
  }

  test("d19 prefix-filtered jaccard equals d03 row-for-row (exactness)") {
    // prefix filtering is a CANDIDATE pruning, never a recall loss:
    // the All-Pairs prefix theorem guarantees every pair with
    // J >= t survives, and the verify step recomputes exact jaccard
    val full = Dedup.ngramJaccard(spark, sfDir)
    val pref = Dedup.prefixJaccard(spark, sfDir)
    assert(pref.exceptAll(full).count() === 0)
    assert(full.exceptAll(pref).count() === 0)
  }

  test("d03 delegates to the prefix kernel above the size threshold") {
    // force the delegation branch (emission cut 0 -> any corpus with
    // a shared shingle is "skewed"); d03's pair set must be exactly
    // the classic kernel's rows — the switch is invisible to the gate
    val classic = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toSeq)
    assert(Dedup.pairEmissionPerDoc(spark, sfDir) > 0.0)
    try {
      val delegated = Dedup.jaccardPairs(spark, sfDir, emissionCut = 0.0)
        .orderBy("d1", "d2").collect().map(_.toSeq)
      assert(delegated.toSeq === classic.toSeq)
    } finally {
      // the forced-kernel memo must not outlive the test: a cached
      // plan registered here gets substituted into LATER queries'
      // matching subtrees (d19's exchange pin flipped with suite
      // order before this drop)
      PlanMemo.drop(spark, s"dedup.jaccardPairs:$sfDir:prefix")
    }
  }

  test("d19 bounds never prune a qualifying pair (adversarial corpus)") {
    // The PPJoin length/positional filters are pruning BOUNDS — any
    // off-by-one (prefix length, 0- vs 1-based positions, the ceil on
    // t/(1+t)·(n1+n2)) silently loses pairs near the threshold. The
    // sf0.001 fixture has few boundary pairs, so this corpus is built
    // to be dense with them: a TINY vocabulary (8 words → 512 possible
    // 3-grams) plus mutation/extension/truncation of 40 base docs
    // yields hundreds of pairs straddling J = t with extreme size
    // ratios. d19 must equal d03 row-for-row on it.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(421)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    def words(n: Int): Array[String] =
      Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val base = Array.fill(40)(words(3 + rnd.nextInt(27)))
    val docs = (0 until 200).map { i =>
      val b = base(rnd.nextInt(base.length))
      val t = rnd.nextInt(5) match {
        case 0 => b // exact duplicate
        case 1 => b.map(w => // scattered mutations
          if (rnd.nextInt(7) == 0) vocab(rnd.nextInt(vocab.length)) else w)
        case 2 => b ++ words(1 + rnd.nextInt(10)) // extension (size skew)
        case 3 => b.take(1 + rnd.nextInt(b.length)) // truncation
        case _ => words(3 + rnd.nextInt(27)) // fresh
      }
      (i.toLong, t.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("d19adv").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val full = Dedup.ngramJaccard(spark, dir)
    val pref = Dedup.prefixJaccard(spark, dir)
    assert(full.count() > 100) // the fixture really is dense
    assert(pref.exceptAll(full).count() === 0)
    assert(full.exceptAll(pref).count() === 0)
  }

  test("simhash signatures fit 60 bits, bands fit 15 bits") {
    val r = Dedup.simhash(spark, sfDir).agg(
      min("simhash"), max("simhash"),
      max(greatest(col("band0"), col("band1"), col("band2"), col("band3")))).head()
    assert(r.getLong(0) >= 0L)
    assert(r.getLong(1) < (1L << 60))
    assert(r.getLong(2) <= 32767L)
  }

  test("d11 verified pairs: subset of candidates, sim in threshold..1") {
    val cand = Dedup.minhashLsh(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ver = Dedup.neardupVerified(spark, sfDir).collect()
    ver.foreach { r =>
      assert(cand.contains((r.getLong(0), r.getLong(1))))
      val sim = r.getDouble(r.fieldIndex("edit_sim"))
      assert(sim >= Dedup.editSimThreshold && sim <= 1.0)
    }
  }

  test("d11 threshold genuinely filters: a weak candidate pair is dropped") {
    val s = spark
    import s.implicits._
    // same shingle vocabulary (so LSH would pair them) but heavily
    // divergent texts — edit similarity far below the 0.8 threshold
    val t1 = "alpha beta gamma delta " * 8
    val t2 = "gamma delta alpha beta " + ("zz yy xx ww vv uu tt ss " * 8)
    val docs = Seq((1L, t1), (2L, t2)).toDF("d", "text")
    val sim = docs.as("a").join(docs.as("b"), col("a.d") < col("b.d"))
      .select((lit(1.0) - levenshtein(col("a.text"), col("b.text"))
        .cast("double") /
        greatest(length(col("a.text")), length(col("b.text")))).as("s"))
      .head().getDouble(0)
    assert(sim < Dedup.editSimThreshold)
  }

  test("minhash_sigs expression equals the explode + min-aggregate spelling") {
    // the codegen expression replaced 16 codegen'd min aggregates
    // (round-10); this pins bit-identity of every signature value
    val sigAggs = Dedup.hashAs.zip(Dedup.hashBs).zipWithIndex.map {
      case ((a, b), i) => min(expr(s"($a * sh + $b) % ${Dedup.P}")).as(s"sig$i")
    }
    val shingledDocs = Tables.documents(spark, sfDir)
      .withColumn("toks", expr("filter(split(lower(text), ' '), t -> t != '')"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  CASE WHEN size(toks) < 3 THEN array()
          |       ELSE transform(sequence(1, size(toks) - 2),
          |                      i -> array_join(slice(toks, i, 3), ' ')) END,
          |  s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % 2147483647))"""
          .stripMargin).as("fps"))
    val viaAgg = shingledDocs
      .select(col("doc_id"), explode_outer(col("fps")).as("sh"))
      .filter(col("sh").isNotNull)
      .groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val viaExpr = shingledDocs
      .select(col("doc_id"), expr("minhash_sigs(fps)").as("sigs"))
      .filter(col("sigs").isNotNull)
      .select(col("doc_id") +:
        (0 until 16).map(i => expr(s"sigs[$i]").as(s"sig$i")): _*)
    assert(viaAgg.exceptAll(viaExpr).count() === 0)
    assert(viaExpr.exceptAll(viaAgg).count() === 0)
    assert(viaExpr.count() > 0)
  }

  test("minhash_sigs edge cases: empty array and null yield null") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, Seq(7L, 11L)), (2L, Seq.empty[Long]))
      .toDF("id", "fps")
      .select(col("id"), expr("minhash_sigs(fps)").as("sigs"))
      .union(Seq(3L).toDF("id")
        .select(col("id"), expr("minhash_sigs(cast(null as array<bigint>))")))
      .collect().sortBy(_.getLong(0))
    assert(!rows(0).isNullAt(1) && rows(0).getSeq[Long](1).length === 16)
    assert(rows(1).isNullAt(1), "empty shingle set must yield NULL sigs")
    assert(rows(2).isNullAt(1), "null input must yield NULL sigs")
    // spot-check one signature value against the formula
    val sigs = rows(0).getSeq[Long](1)
    val expected = Seq(7L, 11L)
      .map(sh => (Dedup.hashAs.head * sh + Dedup.hashBs.head) % Dedup.P).min
    assert(sigs.head === expected)
  }

  test("d11 broadcast and shuffle_hash spellings return identical rows") {
    // the strategy switch keys on the MEASURED candidate count
    // (candBroadcastCap); both plans must be value-identical
    val cands = Dedup.lshCandidates(spark, sfDir).select("d1", "d2")
    val bc = Dedup.neardupVerifiedPlan(spark, sfDir, cands,
      broadcastCands = true).collect()
    val sh = Dedup.neardupVerifiedPlan(spark, sfDir, cands,
      broadcastCands = false).collect()
    assert(bc.toSeq === sh.toSeq)
    assert(bc.nonEmpty)
  }

  test("banded levenshtein cap never flips a round4(sim) >= 0.8 decision") {
    val s = spark
    import s.implicits._
    // pairs of length-L strings with exactly k substitutions: lev = k,
    // sim = 1 - k/L; sweep k across the 0.2·L boundary (L=1000 → 200)
    val base = "a" * 1000
    def edited(k: Int) = "b" * k + "a" * (1000 - k)
    val pairs = Seq(198, 199, 200, 201, 202, 210)
      .map(k => (base, edited(k), k)).toDF("t1", "t2", "k")
    val out = pairs.select(col("k"),
      levenshtein(col("t1"), col("t2")).as("full"),
      expr("levenshtein(t1, t2, " +
        "cast(greatest(length(t1), length(t2)) * 0.20005 + 2.0 as int))")
        .as("banded"))
      .collect()
    out.foreach { r =>
      val (k, full, banded) = (r.getInt(0), r.getInt(1), r.getInt(2))
      assert(full === k)
      val fullKeeps = BigDecimal(1.0 - full / 1000.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.8
      val bandedKeeps = banded >= 0 &&
        BigDecimal(1.0 - banded / 1000.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.8
      assert(fullKeeps === bandedKeeps, s"k=$k full=$full banded=$banded")
      if (bandedKeeps) assert(banded === full,
        s"surviving pair must carry the exact distance (k=$k)")
    }
  }

  test("d11 engine caveat holds: the corpus is pure ASCII") {
    // Spark levenshtein counts chars, DuckDB's counts bytes; the hash
    // gate is only valid while they coincide — i.e. ASCII text
    val nonAscii = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) =!= length(col("text"))).count()
    assert(nonAscii === 0)
  }

  test("t15 bigram LM: nonpositive scores, bigram counts match token counts") {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(Text.tokens(lower(col("text")))).as("nt"))
    val bad = Text.bigramQuality(spark, sfDir)
      .join(toks, "doc_id")
      .filter(col("n_bigrams") =!= greatest(col("nt") - 1, lit(0)) ||
        col("avg_logprob") > 0).count()
    assert(bad === 0)
  }

  test("t14 BM25: descending scores, positive, term hits within query size") {
    val rows = Text.bm25Rank(spark, sfDir).collect()
    assert(rows.length === Text.bm25TopK)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sortBy((s: Double) => -s)))
    assert(scores.forall(_ > 0))
    assert(rows.forall { r =>
      val hits = r.getLong(2)
      hits >= 1 && hits <= Text.bm25QueryTerms
    })
  }

  test("d12 duplicate spans: coverage bounded and internally consistent") {
    val df = Dedup.dupNgramSpans(spark, sfDir)
    val bad = df.filter(
      col("dup_tokens") > col("n_tok") ||
        col("dup_frac") < 0 || col("dup_frac") > 1 ||
        (col("dup_windows") > 0 && col("dup_tokens") < Dedup.spanTokens) ||
        (col("dup_windows") === 0 && col("dup_tokens") =!= 0)).count()
    assert(bad === 0)
    // duplication is cross-document: it can never mark exactly one doc
    assert(df.filter(col("dup_windows") > 0).count() !== 1L)
  }

  test("d13 incremental dedup: verdicts consistent with the d02 pair graph") {
    val res = Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val splitId = Dedup.incrementalSplitId(spark, sfDir)
    val incoming = Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= splitId).count()
    assert(res.size.toLong === incoming)
    assert(res.values.forall(v => v >= 0 && v <= 2))
    // any incoming doc paired with a BASE doc in d02 must be flagged
    val mustFlag = Dedup.minhashLsh(spark, sfDir).collect().flatMap { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      if (d1 < splitId && d2 >= splitId) Some(d2) else None
    }.toSet
    mustFlag.foreach(id => assert(res(id) >= 1, s"doc $id unflagged"))
  }

  test("w10 streaming ingest gate equals the batch d13 verdicts row-for-row") {
    val batch = Dedup.incrementalDedup(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stream = Dedup.streamingIncrementalDedup(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stream === batch)
  }

  test("dedup corpus size equals the number of distinct contents") {
    val groups = Dedup.exactDedup(spark, sfDir).count()
    val corpus = Dedup.dedupCorpus(spark, sfDir).count()
    assert(corpus === groups)
  }

  test("identical texts collide on fingerprint, different texts don't") {
    val out = strDf("same text here", "same text here", "other words")
      .select(md5(col("text"))).collect().map(_.getString(0))
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
  }

  test("PII redaction: every injected identifier is found and scrubbed") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "mail a.b-c_d@sub.example.org and x@y.io today"),
      (2L, "call 212-555-0199 or 646-555-0123 now"),
      (3L, "host 192.168.1.254 peer 10.0.0.7"),
      (4L, "plain text with no identifiers at all"),
      (5L, "mix bob@corp.net 917-555-0100 172.16.0.1")).toDF("doc_id", "text")
    // run the same expressions t11 uses, minus the synthetic augment
    val out = docs.select(
      col("doc_id"),
      regexp_count(col("text"),
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).as("e"),
      regexp_count(col("text"), lit("\\b\\d{3}-\\d{3}-\\d{4}\\b")).as("p"),
      regexp_count(col("text"),
        lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")).as("i"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
          "\\b\\d{3}-\\d{3}-\\d{4}\\b", "[PHONE]"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]").as("red"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(1L)._1 === 2 && out(2L)._2 === 2 && out(3L)._3 === 2)
    assert(out(4L) === ((0, 0, 0, "plain text with no identifiers at all")))
    assert(out(5L)._4 === "mix [EMAIL] [PHONE] [IP]")
    // nothing PII-shaped survives any redacted text
    out.values.foreach { case (_, _, _, red) =>
      assert(!red.contains("@") || red.contains("[EMAIL]"))
      assert(!"\\d{3}-\\d{3}-\\d{4}".r.findFirstIn(red).isDefined)
    }
  }

  test("t20 heavy hitters: bands all green; sketch exact below maxTracked") {
    // at test scale vocab << maxTracked, so the frequent-items sketch
    // never evicts and every estimate is EXACT — the bands must be
    // all-true and the sketch's estimates must equal t02's counts
    val r = Text.heavyHitters(spark, sfDir).head()
    assert(r.getAs[Boolean]("band_k_returned"))
    assert(r.getAs[Boolean]("band_top1"))
    assert(r.getAs[Boolean]("band_recall"))
    assert(r.getAs[Boolean]("band_counts_within"))
    val ex = Tables.documents(spark, sfDir)
      .select(explode(Text.tokens(lower(col("text")))).as("w"))
    val sk = ex.agg(expr(
        s"approx_top_k(w, ${Text.heavyHitterK}, ${Text.heavyHitterMaxTracked})")
        .as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    val exact = ex.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(Text.heavyHitterK)
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1))
    exact.foreach { case (w, c) =>
      sk.get(w).foreach(est => assert(est === c, s"estimate drift for $w")) }
  }
}
