package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Pipeline]] — end-to-end composition invariants beyond e01's
  * composed hash oracle.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("shipped corpus contains no verified near-dup pair") {
    // the whole point of stage 2: after keep-one dedup, joining the
    // verified pair set against shipped×shipped must come up empty
    val kept = Pipeline.keptDocs(spark, sfDir)
    val pairs = Dedup.jaccardPairs(spark, sfDir).select("d1", "d2")
      .join(kept.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(kept.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    assert(pairs.count() === 0L)
  }

  test("shipped docs are exactly the quality survivors minus dedup losers") {
    val kept = Pipeline.keptDocs(spark, sfDir)
    val quality = Text.qualityClassifier(spark, sfDir)
      .filter(col("pred") === 1).select("doc_id")
    // kept ⊆ quality survivors
    assert(kept.join(quality, Seq("doc_id"), "left_anti").count() === 0L)
    // every dropped survivor is a near-dup of some SHIPPED doc (its
    // cluster representative) — nothing vanished for no reason
    val dropped = quality.join(kept, Seq("doc_id"), "left_anti")
    val pairs = Dedup.jaccardPairs(spark, sfDir)
    val explained = dropped.join(
      pairs.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
        .distinct(),
      Seq("doc_id"), "left_semi")
    assert(explained.count() === dropped.count())
  }

  test("e01 token accounting conserves the tokenizer output on survivors") {
    val e01 = Pipeline.trainingPipeline(spark, sfDir)
    val eSum = e01.agg(sum("n_tok")).head().getLong(0)
    val kept = Pipeline.keptDocs(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .join(kept, Seq("doc_id"), "left_semi")
    val tSum = Text.bpeTokenIdSeqsOn(spark, sfDir, docs)
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(eSum === tSum)
    // and every shipped doc appears exactly once in the layout
    assert(e01.count() === kept.count())
    assert(e01.select("doc_id").distinct().count() === kept.count())
  }

  test("e02 shards: capacity, contiguity, and conservation of e01's layout") {
    val shards = Pipeline.trainingShards(spark, sfDir).collect()
    val byLang = shards.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // chunk ids are contiguous from 0 — no hole in the shard stream
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) === i.toLong, s"$lang chunk hole at $i")
      }
      // every chunk is exactly full except (possibly) the last
      sorted.init.foreach { r =>
        assert(r.getLong(2) === Packing.chunkTokens.toLong,
          s"$lang chunk ${r.getLong(1)} not full: ${r.getLong(2)}")
      }
      assert(sorted.last.getLong(2) <= Packing.chunkTokens.toLong)
      assert(sorted.last.getLong(2) > 0L)
    }
    // Σ chunk tokens = Σ e01 doc tokens — nothing dropped or doubled
    // at the boundary cuts
    val cSum = shards.map(_.getLong(2)).sum
    val eSum = Pipeline.trainingPipeline(spark, sfDir)
      .agg(sum("n_tok")).head().getLong(0)
    assert(cSum === eSum)
  }

  test("e03 increment: admission screens and append continuity hold") {
    val sid = Dedup.incrementalSplitId(spark, sfDir)
    val adm = Pipeline.incrementAppend(spark, sfDir)
    val admIds = adm.select("doc_id")
    // admitted docs are increment-side quality survivors
    assert(adm.filter(col("doc_id") < sid).count() === 0)
    val quality = Text.qualityClassifier(spark, sfDir)
      .filter(col("pred") === 1).select("doc_id")
    assert(admIds.join(quality, Seq("doc_id"), "left_anti").count() === 0)
    val baseKept = Pipeline.baseKeptDocs(spark, sfDir)
    // no admitted content equals a shipped base content
    val docs = Tables.documents(spark, sfDir)
    val admFps = docs.join(admIds, Seq("doc_id"), "left_semi")
      .select(md5(col("text")).as("fp"))
    val baseFps = docs.join(baseKept, Seq("doc_id"), "left_semi")
      .select(md5(col("text")).as("fp"))
    assert(admFps.join(baseFps, Seq("fp"), "left_semi").count() === 0)
    // no verified pair survives within (base-kept ∪ admitted)
    val shipped = baseKept.union(admIds)
    val pairs = Dedup.jaccardPairs(spark, sfDir).select("d1", "d2")
      .join(shipped.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(shipped.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    assert(pairs.count() === 0)
    // append continuity: the first admitted doc of each lang starts
    // exactly at the base-kept token total for that lang
    val baseDocs = docs.join(baseKept, Seq("doc_id"), "left_semi")
    val baseTotals = Text.bpeTokenIdSeqsOn(spark, sfDir, baseDocs)
      .join(baseDocs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang").agg(sum(size(col("ids")).cast("long")).as("bt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    adm.groupBy("lang").agg(min("tok_offset").as("start"))
      .collect().foreach { r =>
        assert(r.getLong(1) === baseTotals.getOrElse(r.getString(0), 0L),
          s"lang ${r.getString(0)} does not continue the base stream")
      }
  }

  test("e04 mixture plan: budget, clamp and conservation invariants") {
    val plan = Pipeline.mixturePlan(spark, sfDir).collect()
    assert(plan.nonEmpty)
    val nTok = plan.map(_.getAs[Long]("n_tok"))
    val target = plan.map(_.getAs[Long]("target_tok"))
    val epochs = plan.map(_.getAs[Long]("epochs_milli"))
    val shipped = plan.map(_.getAs[Long]("shipped_tok"))
    val budget = nTok.sum * Pipeline.epochsBudgetFactor
    // allocation never exceeds the budget, and floor division loses
    // < 1 token per source (Σ B·s/Z = B exactly when Z = Σs)
    assert(target.sum <= budget)
    assert(budget - target.sum < plan.length.toLong)
    // per-source: epochs clamped, shipped consistent with epochs
    plan.foreach { r =>
      val (n, t, e, s) = (r.getAs[Long]("n_tok"), r.getAs[Long]("target_tok"),
        r.getAs[Long]("epochs_milli"), r.getAs[Long]("shipped_tok"))
      assert(e >= 0 && e <= Pipeline.maxEpochsMilli)
      assert(s === e * n / 1000)
      if (e < Pipeline.maxEpochsMilli && n > 0)
        assert(s <= t, s"unclamped source ships more than its target")
    }
    // weights sum to ~1e6 (floor loss < #sources ppm)
    val wsum = plan.map(_.getAs[Long]("weight_ppm")).sum
    assert(wsum <= 1000000L && wsum > 1000000L - plan.length)
    // pipeline coherence: per-source tokens re-sum to e01's totals
    val e01 = Pipeline.trainingPipeline(spark, sfDir)
      .agg(sum("n_tok")).head().getLong(0)
    assert(nTok.sum === e01)
    // the α = 0.5 reweighting actually upsamples the tail: the
    // smallest source's epoch factor is >= the largest source's.
    // Guarded on a 2× size ratio — real epochs go as 1/√n, but
    // ⌊√n⌋'s relative step (~1/√n) can locally flip NEAR-equal sizes
    val nonzero = plan.filter(_.getAs[Long]("n_tok") > 0)
    if (nonzero.length >= 2) {
      val bySize = nonzero.sortBy(_.getAs[Long]("n_tok"))
      if (bySize.last.getAs[Long]("n_tok") >=
          2 * bySize.head.getAs[Long]("n_tok"))
        assert(bySize.head.getAs[Long]("epochs_milli") >=
          bySize.last.getAs[Long]("epochs_milli"))
    }
  }

  test("connectedComponents is column-ORDER-proof (positional-union regression)") {
    // e01's gate caught this class: a caller frame carrying (d2, d1)
    // column ORDER (using-column joins move the join key first) fed a
    // positional union that silently dropped every symmetric edge.
    // Pin: a reordered frame yields the identical fixpoint.
    val s = spark
    import s.implicits._
    val fwd = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val swapped = fwd.select(col("d2"), col("d1")) // schema order (d2, d1)
    val a = Dedup.connectedComponents(fwd)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.connectedComponents(swapped)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
    assert(a.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("keepOnePerCluster keeps one member per cluster of the restricted graph") {
    // two clusters, {1,2,3} (chain) and {7,8}, plus unpaired 5:
    //   - 1 is outside ids, so {2,3} is the cluster left: 2 is kept
    //     and 3 loses, though 2 is not the full cluster's min
    //   - 5 has no pair and survives
    //   - {7,8} keeps 7
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("d1", "d2")
    val ids = Seq(2L, 3L, 5L, 7L, 8L).toDF("doc_id")
    def kept(p: org.apache.spark.sql.DataFrame): Seq[Long] =
      Dedup.keepOnePerCluster(p, ids)
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept(pairs) === Seq(2L, 5L, 7L))
    // (d2, d1) column order answers the same
    assert(kept(pairs.select(col("d2"), col("d1"))) === Seq(2L, 5L, 7L))
  }

  test("e05 published shards carry exactly e02's gated id streams") {
    import org.apache.spark.sql.functions.{col, expr, md5, sum}
    // publish (idempotent per corpus fingerprint), then read the DISK
    // artifact back and recompute e02's digest from the published id
    // arrays: row-for-row equality proves the parquet on disk is
    // byte-for-byte the gated content, not a drifted re-derivation
    Pipeline.publishShards(spark, sfDir).collect()
    val published = PlanMemo.publishedParquetBy(spark, sfDir,
      "training_shards", Seq("lang"))(
      fail("artifact must already be published"))
    val e02 = Pipeline.trainingShards(spark, sfDir)
    val pubDig = published.select(col("lang"), col("chunk_id"),
      col("n_tokens"),
      md5(expr("array_join(transform(ids, i -> CAST(i AS STRING)), ',')"))
        .as("ids_md5"))
    assert(pubDig.count() === e02.count())
    assert(pubDig.join(e02,
      Seq("lang", "chunk_id", "n_tokens", "ids_md5")).count() === e02.count())
    // manifest totals reconcile with the artifact
    val man = Pipeline.publishShards(spark, sfDir)
    assert(man.agg(sum("n_chunks")).head().getLong(0) === published.count())
    assert(man.agg(sum("n_tokens")).head().getLong(0) ===
      published.agg(sum("n_tokens")).head().getLong(0))
    // the artifact is genuinely lang-partitioned on disk (hive dirs)
    val root = published.inputFiles.head
    assert(root.contains("/lang="), s"not partitioned: $root")
  }

  // ----- round-18: e07/e09 corrupted-shard negative path -----

  test("consumer detects a tampered shard: flipped id, dropped id, clean control") {
    import org.apache.spark.sql.functions.{col, expr, min, when}
    val (shards, manifest) = Pipeline.shardArtifacts(spark, sfDir)
    val mount = manifest.agg(min("lang")).first().getString(0)
    val target = shards.filter(col("lang") === mount)
      .selectExpr("chunk_id", s"${Packing.shardExprOn("chunk_id")} AS shard")
      .orderBy("chunk_id").first()
    val (targetChunk, targetShard) = (target.getLong(0), target.getLong(1))
    def verdicts(s: org.apache.spark.sql.DataFrame) =
      Pipeline.consumeVerify(s, manifest, Seq(mount), 0L)
        .collect().map(r => (r.getLong(1),
          r.getBoolean(7), r.getBoolean(8), r.getBoolean(9), r.getBoolean(10)))
    // clean control: every verdict column TRUE — the booleans are
    // earned comparisons, so the negative assertions below are
    // meaningful
    val clean = verdicts(shards)
    assert(clean.nonEmpty)
    assert(clean.forall { case (_, c, t, g, p) => c && t && g && p })
    // tamper 1: flip ONE id in ONE chunk (+1) — same length, same
    // declared n_tokens, so ONLY that shard's checksum flips
    val flipped = shards.withColumn("ids",
      when(col("lang") === mount && col("chunk_id") === targetChunk,
        expr("concat(array(ids[0] + 1), slice(ids, 2, size(ids) - 1))"))
        .otherwise(col("ids")))
    val v1 = verdicts(flipped)
    assert(v1.filter(!_._2).map(_._1).toSeq === Seq(targetShard),
      s"flipped id must flip exactly shard $targetShard's checksum")
    assert(v1.forall { case (_, _, t, g, p) => t && g && p },
      "a value flip must not disturb count/range/payload accounting")
    // tamper 2: DROP one id — the chunk's declared n_tokens no longer
    // matches its payload (payload_ok false) and the checksum flips
    val dropped = shards.withColumn("ids",
      when(col("lang") === mount && col("chunk_id") === targetChunk,
        expr("slice(ids, 2, size(ids) - 1)"))
        .otherwise(col("ids")))
    val v2 = verdicts(dropped)
    val bad = v2.filter(r => !r._2 || !r._5).map(_._1).toSeq
    assert(bad === Seq(targetShard),
      s"dropped id must surface on exactly shard $targetShard")
    val row = v2.find(_._1 == targetShard).get
    assert(!row._2 && !row._5,
      "dropped id must flip BOTH checksum_ok and payload_ok")
  }

  // ----- round-18: multi-increment append chain (e08) -----

  test("e08 chain: one continuous per-lang token stream across both appends") {
    // the whole point of the rollforward: within each lang, ordered
    // by doc_id (inc1 ids < sid2 ≤ inc2 ids, so id order IS append
    // order), offsets form ONE prefix sum that starts at the
    // base-kept total and crosses the inc1→inc2 boundary without a
    // seam — the chunk ids a year of weekly appends would keep
    // extending
    val out = Pipeline.incrementAppendChain(spark, sfDir)
      .select("lang", "doc_id", "n_tok", "tok_offset", "inc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    assert(out.nonEmpty)
    assert(out.exists(_._5 == 1) && out.exists(_._5 == 2),
      "chain did not exercise both increments")
    val baseTotals = Pipeline.baseTotalsArtifact(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val seq = rows.sortBy(_._2)
      assert(seq.head._4 === baseTotals.getOrElse(lang, 0L),
        s"lang $lang does not start at the base total")
      seq.zip(seq.tail).foreach { case (a, b) =>
        assert(b._4 === a._4 + a._3,
          s"lang $lang stream breaks at doc ${b._2} (prev ${a._2})")
      }
    }
  }

  test("e08 chained vs e03 combined: equal up to the documented divergence classes") {
    val chain = Pipeline.incrementAppendChain(spark, sfDir)
    val comb = Pipeline.incrementAppend(spark, sfDir)
    val chainIds = chain.select("doc_id").collect().map(_.getLong(0)).toSet
    val combIds = comb.select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sfDir)
    val (sid1, sid2) = Pipeline.chainSplitIds(spark, sfDir)
    val inc1Adm = chainIds.filter(id => id >= sid1 && id < sid2)
    // chained-only docs must be transitive bridges: paired with some
    // increment doc, but with NO admitted-inc1 doc (their bridge was
    // a CC loser), and dropped combined only as a CC loser (they pass
    // both screens identically in the two runs)
    val pairs = Dedup.jaccardPairs(spark, sfDir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val chainOnly = chainIds -- combIds
    chainOnly.foreach { id =>
      val partners = pairs.collect {
        case (a, b) if a == id => b
        case (a, b) if b == id => a
      }.toSet
      assert(partners.nonEmpty && !partners.exists(inc1Adm.contains),
        s"chained-only doc $id is not a transitive bridge")
    }
    // combined-only docs must be shingle-less exact duplicates of an
    // inc1-admitted content (fp-screened by the chain, invisible to
    // the combined run's pair graph)
    val combOnly = combIds -- chainIds
    if (combOnly.nonEmpty) {
      val fpOf = docs
        .filter(col("doc_id").isin((combOnly ++ inc1Adm).toSeq: _*))
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val inc1Fps = inc1Adm.map(fpOf)
      combOnly.foreach { id =>
        assert(inc1Fps.contains(fpOf(id)),
          s"combined-only doc $id is not an exact dup of an inc1 admit")
        assert(!pairs.exists(p => p._1 == id || p._2 == id),
          s"combined-only doc $id has pairs — should have been CC-screened")
      }
    }
    // and where neither class fires, the two runs agree row-for-row
    if (chainOnly.isEmpty && combOnly.isEmpty) {
      val a = chain.drop("inc").collect().map(_.toSeq)
      val b = comb.collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq,
        "identical admitted sets but diverging placements")
    }
  }

  test("append chain divergence classes are real: bridge kept, shingle-less dup screened") {
    // hand-built corpus exhibiting BOTH documented divergences, driven
    // through the real appendAgainst machinery (screens, pair graph,
    // CC, placement) with a handed base state:
    //   doc 0  base       "unrelated"        (shipped base)
    //   doc 10 inc1  a =  tok01..tok12  ┐ J(a,x)=8/12 ≥ 0.5
    //   doc 11 inc1  x =  tok03..tok14  ┘┐ J(x,y)=8/12 ≥ 0.5
    //   doc 12 inc1  s =  "hello there"  │   (shingle-less, admitted)
    //   doc 20 inc2  y =  tok05..tok16  ─┘ J(a,y)=6/14 < 0.5
    //   doc 21 inc2  dup of s's text        (shingle-less)
    // chained:  inc1 admits {10,12} (x loses CC to a); inc2 admits
    //           {20} (y's only pair partner 11 was dropped, so no
    //           screen fires) and fp-screens 21 against s.
    // combined: CC sees the a–x–y chain as ONE component (keep 10),
    //           21 has no pairs and no shipped fp match → admitted.
    // divergence = {20} chained-only (transitive bridge), {21}
    // combined-only (shingle-less dup) — exactly the classes the e08
    // scaladoc documents.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_chain").toString
    val toks = (1 to 16).map(i => f"tok$i%02d")
    def span(a: Int, b: Int) = toks.slice(a - 1, b).mkString(" ")
    Seq(
      (0L, "zebra yak xylophone wombat vulture unicorn tapir", "en", "web"),
      (10L, span(1, 12), "en", "web"),
      (11L, span(3, 14), "en", "web"),
      (12L, "hello there", "en", "web"),
      (20L, span(5, 16), "en", "web"),
      (21L, "hello there", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    val kept0 = Seq(0L).toDF("doc_id")
    val fps0 = docs.filter(col("doc_id") === 0L)
      .select(md5(col("text")).as("fp"))
    val totals0 = Seq.empty[(String, Long)].toDF("lang", "base_tok")
    def admitted(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def crossLosers(kept: org.apache.spark.sql.DataFrame) =
      Dedup.pairsTouching(Dedup.pairsPublished(spark, dir), kept)
    // chained
    val p1 = Pipeline.appendAgainst(spark, dir, crossLosers(kept0), fps0,
      totals0, Seq(10L, 11L, 12L).toDF("doc_id")).localCheckpoint()
    assert(admitted(p1) === Set(10L, 12L), "inc1 admission")
    val kept1 = kept0.union(p1.select("doc_id"))
    val fps1 = fps0.union(docs
        .join(p1.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(md5(col("text")).as("fp")))
      .distinct()
    val totals1 = p1.groupBy("lang")
      .agg(sum("n_tok").cast("long").as("base_tok"))
    val p2 = Pipeline.appendAgainst(spark, dir, crossLosers(kept1), fps1,
      totals1, Seq(20L, 21L).toDF("doc_id"))
    assert(admitted(p2) === Set(20L),
      "inc2 must keep the bridge doc and fp-screen the dup")
    // combined
    val comb = Pipeline.appendAgainst(spark, dir, crossLosers(kept0), fps0,
      totals0, Seq(10L, 11L, 12L, 20L, 21L).toDF("doc_id"))
    assert(admitted(comb) === Set(10L, 12L, 21L),
      "combined must CC-drop the bridge and keep the shingle-less dup")
    // the pair graph is exactly the a–x, x–y chain the classes rely on
    val pairSet = Dedup.jaccardPairs(spark, dir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet === Set((10L, 11L), (11L, 20L)))
  }
}
