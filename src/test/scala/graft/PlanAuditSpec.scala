package graft

import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, HigherOrderFunction, Md5}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.scalatest.funsuite.AnyFunSuite

/** Optimized-plan audit: no CPU-heavy expression (JSON parse, md5,
  * array higher-order function) may appear inside a Filter condition.
  *
  * Why: Catalyst alias-inlines predicates through projections
  * (PushDownPredicate) and infers non-empty predicates from inner
  * explodes (InferFiltersFromGenerate); both rewrite a cheap-looking
  * filter into one carrying the FULL derivation and push it below any
  * rebalance Exchange — so the dominant per-row cost runs twice, once
  * serialized at raw-scan parallelism. Rounds 3–4 hit this trap in
  * d02/d03/d04 (fixed via explode_outer), q11/q12/q20 (kColFenced)
  * and t08 (optimizer_barrier). This suite pins the fix class-wide:
  * any new query that reintroduces the shape fails sbt test with the
  * offending expression named.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  /** The CPU-heavy per-row pipelines where the trap bites hardest. */
  private val audited = Seq(
    "d01_exact_dedup", "d02_minhash_lsh", "d03_ngram_jaccard",
    "d04_simhash", "d05_dedup_corpus", "d08_neardup_clusters",
    "d09_neardup_corpus",
    "t03_quality_scores", "t04_fingerprints", "t08_rolling_fingerprints",
    "t09_repetition_stats",
    "q11_clean_pipeline", "q12_feature_pipeline", "q20_clean_light",
    "s01_cosine_topk", "s06_quantized_topk",
    // round-6 md5-heavy additions
    "d11_neardup_verified", "d12_dup_ngram_spans",
    "d13_incremental_dedup", "t13_nfc_normalize", "t14_bm25_rank",
    "p03_shard_manifest", "t15_bigram_quality",
    // round-7 md5/HOF-heavy additions
    "d14_semantic_dedup", "d15_paragraph_dedup", "d16_source_overlap",
    "t16_c4_clean", "t17_gopher_rules", "t18_dsir_weights",
    "d17_bloom_increment", "t19_cdc_chunks", "d18_source_rank",
    "p06_leakage_splits", "c06_corpus_card",
    // round-8 HOF-heavy addition
    "d19_prefix_jaccard",
    // round-14: md5-per-token feature hashing (the t04 class)
    "t23_quality_classifier",
    // round-15: the composed pipeline (md5 fingerprints + id HOFs)
    "e01_training_pipeline", "e02_training_shards",
    "e03_increment_append",
    // round-15: span-family rewrite (span_fps + per-doc reassembly)
    "d20_substring_removal")

  /** Exchange-count pins for the most expensive plans (round-7 verdict
    * "next" 8): a future edit that doubles a shuffle must fail CI with
    * the query named, instead of surfacing as a bench mystery. Counts
    * are over the INITIAL physical plan string (pre-AQE, so they are
    * data-independent), including the build plans of memoized cached
    * relations — i.e. the full cold cost of the query. w10's streaming
    * plan is not reachable through its batch result frame; d04 (the
    * next-most-expensive batch plan) stands in.
    *
    * If a deliberate plan change moves a number DOWN, re-pin it — the
    * equality is the point: drift in either direction is reviewed.
    */
  private val exchangePins = Map(
    //                      (hash, roundrobin, range, broadcast)
    // round-17: the new consumer/retrieval entries. e07's plan is the
    // pruned artifact scan + the per-shard recompute groupBy + the
    // bounded manifest broadcast; s15 is s14's composition + the
    // linear exact side (queries broadcast, bounded top-k); s16 is
    // s14's IVF over the published chunk set (mount lang pruned).
    // e07 warm: pruned artifact scan → ONE per-shard recompute hash
    // exchange + the presentation sort; 1 broadcast = the ≤16-row
    // manifest slice. A second hash or broadcast means the consumer
    // started shuffling chunk payloads or broadcasting the corpus.
    "e07_consume_shards" -> ((1, 0, 1, 1)),
    // s15 = s14's composition + the linear exact side: +2 hash (the
    // exact candidate join + its per-query topk partial agg) + the
    // final recall agg; broadcasts stay bounded (queries, ivf top-5,
    // + s14's six). 11 roundrobin = the reader rebalances across both
    // sides' printed memo builds.
    "s15_retrieval_recall" -> ((8, 11, 1, 8)),
    // s16 = s14's IVF over the published chunk set (mount-lang pruned
    // artifact scan replaces the chunk-frame recompute): same 5 hash,
    // 6 bounded broadcasts as s14.
    "s16_retrieval_artifact" -> ((5, 6, 1, 6)),
    // broadcast counts here are BOUNDED sides only (1-row stats,
    // query sets, centroids): every corpus-scale side is pinned to a
    // shuffle join — a regression that re-broadcasts a docs-scale
    // frame shows up as bcast going UP and fails this test
    "c06_corpus_card"    -> ((2, 1, 0, 4)),
    // round-10: the minhash_sigs codegen expression moved signature
    // computation map-side — the per-doc sig aggregation exchanges
    // (8→4 hash) are deleted, not hidden. round-12: the band index is
    // disk-published, so the printed build plan is a parquet read —
    // the corpus-scan rebalances (4 roundrobin) leave the fingerprint.
    // round-13: the candidate-PAIR table is disk-published too (the
    // second index artifact; d11's bench cost was re-deriving it), so
    // the warm d02 plan is artifact-read + the presentation range
    // sort — like s09/d18, hash exchanges appearing here again means
    // the posting/pair pipeline regressed to running inline
    "d02_minhash_lsh"    -> ((0, 0, 1, 0)),
    // round-12: pairCounts packed-array shuffle — the pair-count
    // exchange is satisfied by the repartition(d1) HashPartitioning
    // and the first sizes join reuses it (22 -> 20 hash)
    "d03_ngram_jaccard"  -> ((20, 12, 1, 0)),
    "s11_ivfpq_search"   -> ((3, 6, 1, 5)),
    "d04_simhash"        -> ((2, 2, 1, 0)),
    // round-8 scale fixes: pin the PPJoin candidate pipeline (d19)
    // and the occupancy-scaled SemDeDup cells (d14) so a regression
    // re-introducing the quadratic spellings fails CI by name
    // round-12: packed candidate emission folds the pair aggregate
    // into the repartition(d1) exchange (9 -> 8 hash)
    // round-15 re-pin: the capped-space unification replaced the
    // map-side sortedSets with the memoized cappedEnts relation, and
    // its embedded build plan (explode → dfreq → join → collect, ~4
    // exchanges) now PRINTS inside each of the three InMemoryRelation
    // copies (the t23 overstatement note) — the executed TREE has 4
    // ShuffleExchangeExec nodes + 3 InMemoryTableScans (counted by
    // the executed-tree walk below); a broadcast appearing, or the
    // memo scans vanishing (build re-running inline), still moves
    // these numbers
    "d19_prefix_jaccard" -> ((21, 12, 1, 0)),
    "d14_semantic_dedup" -> ((2, 1, 1, 0)),
    // round-11: span_fps rework — pin the exact-substring-dedup plan
    "d12_dup_ngram_spans" -> ((4, 5, 1, 0)),
    // round-12: pins extended to the remaining top-cost entries
    // (round-11 verdict "next" 7). The counts include every printed
    // copy of a shared cached relation's build plan (p06's split map
    // feeds 4 consumers), so they overstate the executed exchanges —
    // that is fine for a drift tripwire: the fingerprint is stable.
    "p06_leakage_splits" -> ((30, 12, 1, 2)),
    "q16_dup_check" -> ((1, 0, 0, 0)),
    "q14_quantiles" -> ((8, 4, 5, 1)),
    "s10_pq_search" -> ((2, 2, 1, 1)),
    // round-16: the retrieval composition. 5 hash = the candidate
    // join (chunks ⋈ vecs-scale assignment, shuffle_hash by contract)
    // + the four partial-agg exchanges (cell assignment, probe topk,
    // shortlist topk, final topk); 6 broadcasts are ALL bounded
    // sides (centroids ×2, probes, shortlist, hits, queries). A 7th
    // broadcast or a 6th hash means a corpus-scale frame moved to
    // the wrong side of a join.
    "s14_retrieval_e2e" -> ((5, 8, 1, 6)),
    "t15_bigram_quality" -> ((13, 8, 1, 1)),
    "t18_dsir_weights" -> ((13, 9, 1, 2)),
    // round-12: the last two non-streaming top-10 sf0.1 entries
    // (streaming drains return a memory-sink relation — their plans
    // pin nothing, so w08/w09/w10 are covered by their batch twins)
    // warm plans: both read memoized artifacts (PQ codes / rank
    // fixpoint), so only the display sort's range exchange (+ s09's
    // localCheckpoint rebalances) remains — which is the point: a
    // regression that re-runs the build inline shows up as hash
    // exchanges appearing from nowhere
    "s09_pq_codes" -> ((0, 2, 1, 0)),
    "d18_source_rank" -> ((0, 0, 1, 0)),
    // round-13: t22's encode — both the dictionary join and the
    // doc-coverage left join must stay shuffle_hash (dict and perDoc
    // are corpus-vocabulary / docs-sized; broadcast appearing here
    // means an unbounded side got a driver hash relation).
    // round-19 re-pin (t22/t24/t28): the published bpe_vocab artifact
    // replaced the in-plan vocab tokenize+groupBy — one hash exchange
    // (the word groupBy) and two roundrobin (the balanced() rebalance
    // of the corpus scan feeding it) left each printed plan
    "t22_bpe_encode" -> ((5, 2, 1, 0)),
    // round-14 (round-13 verdict "next" 4): the remaining bench
    // movers and the new entries. t21's warm plan is the published
    // merge ARTIFACT rendered driver-side + the presentation sort —
    // hash exchanges appearing here means training regressed to
    // running inline per call. q11/q20/t16 are the clean-pipeline
    // family (one dedup hash exchange + the reader rebalance).
    "t21_bpe_train" -> ((0, 0, 1, 0)),
    "q11_clean_pipeline" -> ((1, 1, 1, 0)),
    "q20_clean_light" -> ((1, 1, 1, 0)),
    "t16_c4_clean" -> ((2, 2, 1, 0)),
    // round-15 session 3: the new span-rewrite / decode / mixture
    // entries. d20's counts include the spanWins memo's printed build
    // copies; e04's include the keptDocs/keptSeqs chains (the p06
    // overstatement note) — its ONE broadcast is the 1-row totals
    // frame, everything corpus-sized stays shuffle_hash. t28 and d20
    // are broadcast-free by contract (dictionary and doc sides are
    // both unbounded).
    "d20_substring_removal" -> ((23, 22, 1, 0)),
    "t28_bpe_decode" -> ((4, 2, 1, 0)),
    // t23: the counts include every printed copy of the cached
    // labels/features build plans (the p06 overstatement note above);
    // the 11 broadcasts are all BOUNDED sides — 1-row med/totals
    // scalars and the ≤qcDim-row weight table. A docs-scale frame
    // joining as a broadcast would move these numbers and fail here.
    "t23_quality_classifier" -> ((19, 24, 1, 11)),
    // t24: dictionary join (shuffle_hash) + per-doc order reassembly
    // + coverage left join; 0 broadcasts — the vocabulary-sized id
    // dictionary must never become a driver hash relation
    "t24_bpe_token_ids" -> ((4, 2, 1, 0)),
    // round-15: the composed pipeline entries. Their printed plans
    // embed the cached keptDocs/t23/pair relations' build plans (the
    // p06 overstatement note), so the counts fingerprint the whole
    // composition: a stage silently recomputing inline (memo scans
    // vanishing) or a docs-scale side turning broadcast moves them
    )

  /** TREE-node pins for the composed pipeline entries. These plans
    * embed many memoized relations, and BOTH the printed fingerprint
    * and the exact tree counts shift with which earlier suite first
    * built each memo (warm-order) — measured: e01's initial tree is
    * (6,2,1,0,3) when this suite runs alone and (3,1,1,0,2) after
    * PipelineSpec warmed the memos. So these entries pin INVARIANTS,
    * not exact counts: the broadcast count is EXACT (the scale
    * contract — 0 for e01/e02, 1 lang-sized frame for e03; a
    * corpus-scale side becoming a driver hash relation moves it), the
    * hash-exchange count has a CEILING (a quadratic respelling or a
    * memo silently re-running inline blows through it), and at least
    * `minScans` InMemoryTableScans must be present (the memos are
    * genuinely consumed). Tuple = (maxHash, exactBroadcast, minScans).
    */
  private val treeExchangePins = Map(
    "e01_training_pipeline" -> ((8, 0, 1)),
    "e02_training_shards" -> ((8, 0, 2)),
    // e03 re-pinned at minScans 2: the frozen-base artifacts
    // (base_kept/base_fps/base_totals) moved from session cache to
    // PUBLISHED parquet (round-15 bench finding — e03 re-derived the
    // whole base per rep), so they enter the tree as file scans, and
    // the screened increment is a lineage-truncating localCheckpoint
    "e03_increment_append" -> ((34, 1, 2)),
    // e04 composes the same shared memos as e01 (its printed string
    // counts flip 50↔52 with which suite warmed keptDocs first — the
    // instability this section exists for); its ONE broadcast is the
    // 1-row totals frame
    "e04_mixture_plan" -> ((8, 1, 1)))

  treeExchangePins.foreach { case (name, expected) =>
    test(s"$name: executed-tree exchange counts stay pinned") {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan
      var (h, rr, rg, b, ims) = (0, 0, 0, 0, 0)
      def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
        n match {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.outputPartitioning match {
              case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h += 1
              case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning => rg += 1
              case _ => rr += 1
            }
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            b += 1
          case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            ims += 1
          case _ =>
        }
        n.children.foreach(walk)
        n match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case _ =>
        }
      }
      walk(plan)
      val (maxHash, exactBcast, minScans) = expected
      assert(b === exactBcast,
        s"$name broadcast count moved: expected $exactBcast, got $b " +
          s"(full tree: ${(h, rr, rg, b, ims)}) — a corpus-scale side " +
          "may have become a driver hash relation")
      assert(h <= maxHash,
        s"$name hash exchanges exceeded the ceiling $maxHash: got $h " +
          s"(full tree: ${(h, rr, rg, b, ims)}) — a stage may be " +
          "re-running inline or a spelling went quadratic")
      assert(ims >= minScans,
        s"$name uses only $ims memo scans (min $minScans) — a shared " +
          "relation is no longer consumed from the cache")
    }
  }

  exchangePins.foreach { case (name, (hash, rr, range, bcast)) =>
    test(s"$name: exchange counts stay pinned") {
      // execute once first: a query whose plan embeds PlanMemo-cached
      // relations prints differently cold vs warm, and suite order
      // must not decide which state this test sees — pin the WARM one
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val s = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(s).size
      val got = (n("Exchange hashpartitioning"), n("Exchange RoundRobin"),
        n("Exchange rangepartitioning"), n("BroadcastExchange"))
      assert(got === ((hash, rr, range, bcast)),
        s"$name plan exchanges moved (hash, roundrobin, range, broadcast): " +
          s"expected (${(hash, rr, range, bcast)}), got $got — if deliberate, " +
          "re-pin in PlanAuditSpec.exchangePins")
    }
  }

  audited.foreach { name =>
    test(s"$name: no expensive expression inside a Filter") {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan
      val offenders = plan.collect {
        case f: Filter =>
          f.condition.collect {
            case e: Md5 => e
            case e: GetJsonObject => e
            case e: HigherOrderFunction => e
            // the engine's own per-row kernels are exactly as
            // expensive as the chains they replaced — a Filter
            // carrying one is the same trap
            case e: ShingleFps => e
            case e: SpanFps => e
            case e: MinHashSigs => e
            case e: SortedInterSize => e
          }
      }.flatten
      assert(offenders.isEmpty,
        s"$name evaluates expensive expressions inside a Filter " +
          s"(pushdown/inference trap): ${offenders.map(_.sql).mkString("; ")}")
    }
  }

  /** Count executed shuffle exchanges whose OUTPUT carries an
    * array-typed column — the scale contract for the shard family:
    * token-id arrays are the fattest rows in the engine, and every
    * exchange that ships them at corpus scale is network cost a
    * count-only spelling avoids.
    */
  private def arrayShuffles(
      plan: org.apache.spark.sql.execution.SparkPlan): Int =
    countExchanges(plan, onlyArrayOutput = true)

  /** Walk a physical tree counting ShuffleExchangeExec nodes,
    * descending through BOTH AQE wrappers: AdaptiveSparkPlanExec
    * .executedPlan (un-executed plans) AND QueryStageExec.plan
    * (executed plans, where AQE wraps materialized exchanges in leaf
    * stage nodes — without this descent a zero-count assertion on an
    * executed tree passes vacuously).
    */
  private def countExchanges(
      plan: org.apache.spark.sql.execution.SparkPlan,
      onlyArrayOutput: Boolean): Int = {
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !onlyArrayOutput || e.output.exists(a =>
              a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) =>
          n += 1
        case _ =>
      }
      p.children.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
        case _ =>
      }
    }
    walk(plan)
    n
  }

  test("e05 shard contents: id arrays shuffle ONLY at the boundary-slice step") {
    // warm (keptSeqs memoized): measured, the content plan moves id
    // content through exactly ONE exchange — the chunk-assembly
    // groupBy over boundary-sliced segments — and even there the ids
    // travel as partial_collect_list BINARY buffers, never as raw
    // array attributes. The seqs side re-uses the memo's
    // hashpartitioning(doc_id) (persist preserves partitioning), so
    // the join shuffles only the scalar placement side; the per-doc
    // reassembly's array exchanges live inside the memoized seqs
    // build (charged once per corpus, like the artifact publish).
    val contents = Pipeline.shardContents(spark, sfDir)
    contents.write.format("noop").mode("overwrite").save()
    val warm = Pipeline.shardContents(spark, sfDir)
    warm.write.format("noop").mode("overwrite").save()
    val plan = warm.queryExecution.executedPlan
    // non-vacuity guard first: the inspected QueryExecution is not
    // itself executed (the noop write ran its own), so exchanges are
    // visible as plain nodes — but if that ever changes (AQE stage
    // wrapping), countExchanges descends into QueryStageExec.plan and
    // this total keeps the zero-array assertion below honest
    assert(countExchanges(plan, onlyArrayOutput = false) > 0,
      "walker saw no exchanges at all — the plan shape changed and " +
        "the zero-array-shuffle assertion would pass vacuously")
    assert(arrayShuffles(plan) === 0,
      "a raw id-array attribute entered an exchange — the packed " +
        "boundary-slice contract broke")
    // exactly one exchange fed by a partial object aggregate (the
    // boundary-slice chunk assembly) — counted over the plan TREE,
    // not the printed string (the print embeds the memoized seqs
    // build plan, which has its own collects)
    var collectExchanges = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.child.isInstanceOf[
              org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] =>
          collectExchanges += 1
        case _ =>
      }
      p.children.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
        case _ =>
      }
    }
    walk(plan)
    assert(collectExchanges === 1,
      "expected exactly ONE partial-collect exchange (the " +
        "boundary-slice chunk assembly) in the warm content tree")
  }

  test("e05 manifest build: NO id array ever enters an exchange") {
    // the manifest reduces each chunk to one 64-bit fingerprint
    // BEFORE its shard groupBy — the shard aggregation must shuffle
    // scalars only (reading the published parquet is array I/O, but
    // partition-local)
    Pipeline.publishShards(spark, sfDir).collect()
    val published = PlanMemo.publishedParquetBy(spark, sfDir,
      "training_shards", Seq("lang"))(
      fail("artifact must already be published"))
    val man = published
      .withColumn("shard",
        org.apache.spark.sql.functions.expr(
          Packing.shardExprOn("chunk_id")))
      .withColumn("chunk_fp", Text.fp64(
        org.apache.spark.sql.functions.expr(
          "array_join(transform(ids, i -> CAST(i AS STRING)), ',')")))
      .groupBy("lang", "shard")
      .agg(org.apache.spark.sql.functions.expr("bit_xor(chunk_fp)")
        .as("checksum"))
    man.write.format("noop").mode("overwrite").save()
    val manPlan = man.queryExecution.executedPlan
    assert(countExchanges(manPlan, onlyArrayOutput = false) > 0,
      "walker saw no exchanges at all — the zero-array assertion " +
        "below would pass vacuously")
    assert(arrayShuffles(manPlan) === 0,
      "manifest aggregation must shuffle fingerprints, not id arrays")
  }

  test("e07 consumer: the chunk scan partition-prunes to the mounted lang") {
    // the consumer's scale contract (round-16 verdict "next" 2): a
    // training run mounting one lang must do ONE lang directory of
    // parquet I/O, not the corpus — pinned at the scan, where a lost
    // literal (e.g. the lang filter becoming a join) would surface as
    // empty partitionFilters / other langs' files selected
    val df = Pipeline.consumeShards(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = Pipeline.consumeShards(spark, sfDir)
      .queryExecution.executedPlan
    val scans = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.execution.FileSourceScanExec]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(rp =>
              rp.toString.contains("training_shards") &&
                !rp.toString.contains("manifest")) =>
          scans += s
        case _ =>
      }
      p.children.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
        case _ =>
      }
    }
    walk(plan)
    assert(scans.nonEmpty,
      "no training_shards chunk scan found — the consumer stopped " +
        "reading the published artifact")
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(
        _.name == "lang")),
        s"chunk scan carries no lang partition filter: ${s.simpleString(5)}")
      val langs = s.selectedPartitions.toPartitionArray
        .map(_.urlEncodedPath)
        .flatMap("lang=([^/]+)".r.findFirstMatchIn(_))
        .map(_.group(1)).distinct
      assert(langs.length <= 1,
        s"consumer scan selected files from ${langs.length} langs " +
          s"(${langs.mkString(", ")}) — partition pruning broke")
    }
  }

  test("e09 consumer: the two-lang union mount still prunes at the scan") {
    // round-18 extension of the e07 pin: a union mount must be ONE
    // scan whose partition filter carries BOTH lang literals — the
    // selected file set is exactly the two mounted lang= directories,
    // never the corpus, and never a per-lang scan pair unioned above
    // the exchange
    import org.apache.spark.sql.functions.{col, countDistinct}
    val df = Pipeline.consumeShardsMulti(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val mounted = Pipeline.consumeShardsMulti(spark, sfDir)
      .agg(countDistinct(col("lang"))).head().getLong(0)
    val plan = Pipeline.consumeShardsMulti(spark, sfDir)
      .queryExecution.executedPlan
    val scans = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.execution.FileSourceScanExec]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(rp =>
              rp.toString.contains("training_shards") &&
                !rp.toString.contains("manifest")) =>
          scans += s
        case _ =>
      }
      p.children.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
        case _ =>
      }
    }
    walk(plan)
    assert(scans.nonEmpty, "no training_shards chunk scan found")
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(
        _.name == "lang")),
        s"chunk scan carries no lang partition filter: ${s.simpleString(5)}")
      val langs = s.selectedPartitions.toPartitionArray
        .map(_.urlEncodedPath)
        .flatMap("lang=([^/]+)".r.findFirstMatchIn(_))
        .map(_.group(1)).distinct
      assert(langs.length.toLong === mounted,
        s"union-mount scan selected ${langs.length} langs " +
          s"(${langs.mkString(", ")}) but the mount is $mounted")
    }
  }
}
