package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Dedup

/** Dev-loop micro-profiler: times named sub-plans of a query family so
  * regressions can be localized without a full Bench run. Not part of
  * the driver contract; see Bench for the recorded harness.
  *
  * Usage: `sbt "runMain graft.Probe <what> [sfDir]"` where `<what>`
  * selects a probe set below. Each probe noop-writes the plan (full
  * physical execution, no sink I/O) and prints `PROBE <label> <sec>`.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <what> [sfDir]")
    val what = args.head
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    what match {
      case "d11parts" =>
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(spark, dir)
        println("PROBE avg_len " + docs.selectExpr("avg(length(text))").first().getDouble(0))
        val cands = Dedup.lshCandidates(spark, dir).select("d1", "d2")
        run(cands) // warm the memo
        val joined = cands
          .hint("shuffle_hash")
          .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
          .hint("shuffle_hash")
          .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        time("join_only") { run(joined.select(length(col("t1")), length(col("t2")))) }
        time("join_lev") { run(joined.select(levenshtein(col("t1"), col("t2")))) }
        time("join_lev_banded") { run(joined.select(
          expr("levenshtein(t1, t2, cast(greatest(length(t1), length(t2)) / 5 + 2 as int))"))) }
      case "q09" =>
        import org.apache.spark.sql.functions._
        val raw = spark.read.parquet(s"$dir/events.parquet")
        time("raw_scan") { run(raw) }
        val norm = Tables.normalizeTs(raw)
        time("norm_ts") { run(norm) }
        time("norm_agg") { run(norm.groupBy(
          (weekday(col("ts")) + 1).as("dow"), hour(col("ts")).as("hour"))
          .count()) }
        val enriched = graft.Features.enrich(norm)
        time("enrich") { run(enriched) }
        time("enrich_agg") { run(enriched
          .groupBy(col("pickup_dow_iso").as("dow"), col("pickup_hour").as("hour"))
          .agg(count(lit(1)).as("trips"))) }
        time("q09_full") { run(Kpis.heatmapDowHour(spark, dir)) }
        time("q09_again") { run(Kpis.heatmapDowHour(spark, dir)) }
        val fenced = graft.Features.enrich(norm, graft.Features.kColFenced)
        time("enrich_fenced") { run(fenced) }
        time("fenced_q09_agg") { run(fenced
          .groupBy(col("pickup_dow_iso").as("dow"), col("pickup_hour").as("hour"))
          .agg(count(lit(1)).as("trips"),
            graft.Exact.avgMoney(col("total_amount")).as("avg_total"))
          .orderBy("dow", "hour")) }
        time("fenced_q09_again") { run(fenced
          .groupBy(col("pickup_dow_iso").as("dow"), col("pickup_hour").as("hour"))
          .agg(count(lit(1)).as("trips"),
            graft.Exact.avgMoney(col("total_amount")).as("avg_total"))
          .orderBy("dow", "hour")) }
      case "d03pairs" =>
        import org.apache.spark.sql.functions._
        // A/B the pair-emission spelling over the same posting lists:
        // cross-emit df^2 rows + filter (current) vs sorted+slice
        // emitting df(df-1)/2 rows directly.
        val posting = PlanMemo.cachedEager(spark, dir, "probe.posting")(
          Dedup.shingled(spark, dir)
            .select(col("doc_id"), explode_outer(col("fps")).as("sh"))
            .filter(col("sh").isNotNull)
            .groupBy("sh")
            .agg(collect_list(col("doc_id")).as("docs"))
            .filter(size(col("docs")) <= Dedup.maxShingleDf))
        run(posting) // warm the memo so both arms read the same cache
        def agg(df: DataFrame) =
          df.groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        val cross = posting
          .select(explode(col("docs")).as("d1"), col("docs"))
          .select(col("d1"), explode(col("docs")).as("d2"))
          .filter(col("d1") < col("d2"))
        val sliced = posting
          .select(array_sort(col("docs")).as("docs"))
          .select(posexplode(col("docs")), col("docs"))
          .select(col("col").as("d1"),
            explode(expr("slice(docs, pos + 2, size(docs))")).as("d2"))
        time("cross_emit_1") { run(agg(cross)) }
        time("slice_emit_1") { run(agg(sliced)) }
        time("cross_emit_2") { run(agg(cross)) }
        time("slice_emit_2") { run(agg(sliced)) }
      case "d19stages" =>
        import org.apache.spark.sql.functions._
        // stage ladder for the PPJoin spelling: localize cost between
        // the sorted-set build, the prefix index, candidate emission,
        // and the full-array verify joins.
        time("sortedSets") { run(Dedup.sortedSets(spark, dir)) }
        time("prefixEntries") { run(Dedup.prefixEntries(spark, dir)) }
        time("prefixPosting") { run(Dedup.prefixPosting(spark, dir)) }
        time("prefixCand") { run(Dedup.prefixCand(spark, dir)) }
        println("PROBE cand_count " + Dedup.prefixCand(spark, dir).count())
        time("d19_verify") { run(Dedup.prefixJaccard(spark, dir)) }
        spark.catalog.clearCache()
        time("d19_full_cold") { run(Dedup.prefixJaccard(spark, dir)) }
      case "q14" =>
        import org.apache.spark.sql.functions._
        // A/B the histogram build key: string col_name (current) vs
        // int ordinal mapped back after aggregation.
        val cols = Kpis.quantileCols
        val li = Tables.balanced(Tables.lineitem(spark, dir))
        val strArgs = cols.map(c => s"'$c', $c").mkString(", ")
        val strHist = li.select(expr(
            s"stack(${cols.size}, $strArgs) AS (col_name, v)"))
          .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
        val ordArgs = cols.zipWithIndex
          .map { case (c, i) => s"$i, $c" }.mkString(", ")
        val ordHist = li.select(expr(
            s"stack(${cols.size}, $ordArgs) AS (ord, v)"))
          .groupBy("ord", "v").agg(count(lit(1)).as("cnt"))
        time("hist_string_1") { run(strHist) }
        time("hist_ordinal_1") { run(ordHist) }
        time("hist_string_2") { run(strHist) }
        time("hist_ordinal_2") { run(ordHist) }
        println("PROBE distinct_rows " + ordHist.count())
        spark.catalog.clearCache()
        time("q14_full_cold") { run(Kpis.quantiles(spark, dir)) }
      case "bpedist" =>
        // bank the executor-side trainer at vocabulary stress
        // (round-18 "next" 1): the exact 32k train through BOTH paths
        // on the same dictionary, bit-identity asserted on the whole
        // result, wall + driver-retained state printed for SCALE.md.
        // SPARK_GRAFT_PROBE_SKIP_DRIVER=1 skips the in-memory leg (for
        // corpora where the driver number is already banked and only
        // the distributed wall is wanted).
        val vocab = Text.bpeVocab(spark, dir)
        vocab.write.format("noop").mode("overwrite").save()
        val dictDf = vocab.select("freq", "sym")
        val nDict = dictDf.count()
        println(s"PROBE bpedist dict_rows $nDict")
        val rounds = Text.bpeProdVocabTarget - 256
        val ck = Text.bpeLargeVocabTarget - 256
        var t0 = System.nanoTime()
        val dist = BpeDist.train(spark, dictDf, rounds, checkpointRound = ck)
        val distSec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE bpedist dist_train $distSec%.1f s " +
          s"merges ${dist.merges.length} steps ${BpeDist.lastSteps} " +
          s"exhausted ${dist.exhausted} " +
          s"tokens_final ${dist.tokensFinal}")
        if (!sys.env.get("SPARK_GRAFT_PROBE_SKIP_DRIVER").contains("1")) {
          t0 = System.nanoTime()
          val dict = dictDf.collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          val collectSec = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val drv = Text.bpeTrainDriver(dict, rounds, checkpointRound = ck)
          val drvSec = (System.nanoTime() - t0) / 1e9
          println(f"PROBE bpedist driver_collect $collectSec%.1f s " +
            f"driver_train $drvSec%.1f s merges ${drv.merges.length}")
          val same = dist == drv
          println(s"PROBE bpedist bit_identical $same")
          require(same, "distributed train diverged from the driver trainer")
        }

      case "retrcurve" =>
        // recall-vs-candidate-volume curve for the IVF retrieval
        // (round-18 "next" 3): sweep nprobe at the default shortlist,
        // then shortlist K at full probing — separates cell-miss loss
        // (recovered by probes) from coarse-shortlist loss (recovered
        // by K). Each point prints mean recall@5 over the query set
        // and the mean per-query candidate volume (Σ probed-cell
        // chunk occupancy — the cost the probes actually buy).
        // SCALE.md banks the rows; s17 gates the chosen ≥0.9 point.
        import org.apache.spark.sql.functions._
        val nVecs = Similarity.retrNVecs(spark, dir)
        val cells = Similarity.retrCellsFor(nVecs)
        val def_ = Similarity.retrProbeFor(cells)
        val chunks = Similarity.retrChunks(spark, dir)
        val occ = chunks
          .join(Similarity.retrAssigned(spark, dir), "vec_id")
          .groupBy("cell").agg(count(lit(1)).as("occ"))
        println(s"PROBE retrcurve nvecs $nVecs cells $cells nprobe_def $def_")
        def point(nPr: Int, k: Int): Unit = {
          val rec = Similarity.retrievalRecallAt(spark, dir, nPr, k)
            .agg(avg("recall"), count(lit(1))).first()
          val cand = Similarity.retrProbesAt(spark, dir, nPr)
            .join(occ, "cell")
            .agg((sum("occ") / countDistinct("q_id")).cast("double"))
            .first().getDouble(0)
          println(f"PROBE retrcurve nprobe $nPr K $k " +
            f"mean_recall ${rec.getDouble(0)}%.4f " +
            f"queries ${rec.getLong(1)} cand_per_q $cand%.1f")
        }
        def flatPoint(nPr: Int): Unit = {
          val top = Similarity.retrievalFlatTop5(spark, dir,
            chunks, "chunk_key", nPr)
          val rec = Similarity.recallAgainstExact(spark, dir, top)
            .agg(avg("recall"), count(lit(1))).first()
          val cand = Similarity.retrProbesAt(spark, dir, nPr)
            .join(occ, "cell")
            .agg((sum("occ") / countDistinct("q_id")).cast("double"))
            .first().getDouble(0)
          println(f"PROBE retrcurve FLAT nprobe $nPr " +
            f"mean_recall ${rec.getDouble(0)}%.4f " +
            f"queries ${rec.getLong(1)} cand_per_q $cand%.1f")
        }
        val sweep = Seq(def_, 2 * def_, 4 * def_, cells)
          .map(math.min(_, cells)).distinct
        for (p <- sweep) point(p, Similarity.retrShortlistK)
        for (k <- Seq(40, 80, 160)) point(cells, k)
        for (k <- Seq(40, 80)) point(math.min(4 * def_, cells), k)
        // the s17 path: full-dim scoring — recall loss is cell misses
        // only, nprobe is the whole lever
        for (p <- sweep) flatPoint(p)

      case "vstress" =>
        // Vocabulary-stress measurement of the BPE trainer's one
        // driver-growth path (round-16 verdict "next" 1): the
        // (freq, sym) dictionary collect is corpus-FLAT but
        // vocabulary-SIZED. Run against a GenData `vstress` corpus
        // (≥5M distinct words at sf3); prints, for the exact train the
        // engine runs: dictionary rows collected, collect wall +
        // retained driver heap, 32k-train wall + peak heap, merges
        // learned, and the full-dictionary rank-cursor encode wall —
        // the numbers SCALE.md banks.
        import java.lang.management.{ManagementFactory, MemoryType}
        import scala.jdk.CollectionConverters._
        def heapUsed(): Long = {
          System.gc(); System.gc(); Thread.sleep(300)
          val r = Runtime.getRuntime; r.totalMemory - r.freeMemory
        }
        def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans
          .asScala.foreach(_.resetPeakUsage())
        def peakHeap(): Long = ManagementFactory.getMemoryPoolMXBeans
          .asScala.filter(_.getType == MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum
        val vocab = Text.bpeVocab(spark, dir)
        vocab.write.format("noop").mode("overwrite").save() // warm memo
        val nDict = vocab.count()
        val nTok = vocab.selectExpr("sum(freq)").first().getLong(0)
        println(s"PROBE dict_rows_total $nDict corpus_tokens $nTok")
        val h0 = heapUsed()
        var t0 = System.nanoTime()
        val dict = vocab.select("freq", "sym").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        val collectSec = (System.nanoTime() - t0) / 1e9
        val hDict = heapUsed() - h0
        resetPeaks()
        t0 = System.nanoTime()
        val res = Text.bpeTrainDriver(dict,
          Text.bpeProdVocabTarget - 256,
          checkpointRound = Text.bpeLargeVocabTarget - 256)
        val trainSec = (System.nanoTime() - t0) / 1e9
        val peakGb = peakHeap() / 1e9
        println(f"PROBE train rows ${dict.size} collect $collectSec%.2f" +
          f" s dict_heap ${hDict / 1e9}%.2f GB train $trainSec%.2f s" +
          f" peak_heap $peakGb%.2f GB merges ${res.merges.length}" +
          f" exhausted ${res.exhausted} tokens_final ${res.tokensFinal}")
        // the rank-cursor encode over the full dictionary under this
        // table and the CORPUS-weighted token total (Σ freq·n)
        t0 = System.nanoTime()
        val enc = Text.bpeIdsDictUnder(res.merges, vocab)
          .join(vocab.select("word", "freq"), "word")
          .selectExpr("sum(n)", "sum(CAST(rt_ok AS INT))",
            "sum(freq * n)")
          .first()
        println(f"PROBE encode ${(System.nanoTime() - t0) / 1e9}%.2f" +
          s" s tokens ${enc.getLong(0)} rt_ok ${enc.getLong(1)} of" +
          s" $nDict corpus_tokens ${enc.getLong(2)}")
      case other =>
        System.err.println(s"unknown probe set: $other")
    }
    spark.stop()
    sys.exit(0)
  }
}
