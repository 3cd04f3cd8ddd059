package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics driven through MemoryStream: the
  * windowed aggregation used by w05 behaves identically to its batch
  * twin, and watermark + append mode finalizes closed windows.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming tumbling window equals batch aggregation (complete mode)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    mem.addData(
      (ts("2024-01-01 00:10:00"), 1.0), (ts("2024-01-01 00:50:00"), 2.0),
      (ts("2024-01-01 01:05:00"), 3.0), (ts("2024-01-01 03:30:00"), 4.0))
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("events"), sum("value").as("total"))
      .select(col("window.start").as("ws"), col("events"), col("total"))
    val q = agg.writeStream.format("memory")
      .queryName("spec_mem").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s.table("spec_mem").orderBy("ws").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      ("2024-01-01 00:00:00.0", 2L, 3.0),
      ("2024-01-01 01:00:00.0", 1L, 3.0),
      ("2024-01-01 03:00:00.0", 1L, 4.0)))
  }

  test("append mode with watermark emits only finalized windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("events"))
      .select(col("window.start").as("ws"), col("events"))
    val q = agg.writeStream.format("memory")
      .queryName("spec_append").outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 00:10:00"), 1.0))
      q.processAllAvailable()
      // watermark = 00:10 - 30min → window [00:00,01:00) still open
      assert(s.table("spec_append").count() === 0)
      mem.addData((ts("2024-01-01 02:00:00"), 2.0))
      q.processAllAvailable()
      // watermark = 01:30 → the 00:00 window is finalized and emitted
      val got = s.table("spec_append").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1)))
      assert(got.toSeq === Seq(("2024-01-01 00:00:00.0", 1L)))
    } finally q.stop()
  }

  test("stream-stream join matches only within the event-time bound") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val impressions = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val i = impressions.toDF().toDF("ad_id", "i_ts")
      .withWatermark("i_ts", "1 hour")
    val c = clicks.toDF().toDF("c_ad", "c_ts")
      .withWatermark("c_ts", "1 hour")
    val joined = i.join(c, expr(
      "ad_id = c_ad AND c_ts BETWEEN i_ts AND i_ts + interval 30 minutes"))
    val q = joined.writeStream.format("memory")
      .queryName("ss_join").outputMode("append").start()
    try {
      impressions.addData((1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      // ad 1 clicked within 30 min; ad 2 clicked 2 h later (out of bound)
      clicks.addData((1L, ts("2024-01-01 10:20:00")),
        (2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = s.table("ss_join").select("ad_id").collect()
        .map(_.getLong(0)).toSeq
      assert(got === Seq(1L))
    } finally q.stop()
  }

  test("batch w01 and streaming w05 agree on the hourly profile") {
    val batch = StreamingQueries.tumblingHourly(spark, sfDir)
      .select("window_start", "events").collect().map(r =>
        (r.getTimestamp(0), r.getLong(1))).toSeq
    val stream = StreamingQueries.streamingHourly(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(stream === batch)
  }

  test("w05 file-source leg normalizes every ts encoding (NTZ fixture)") {
    // The round-10 incident class: a driver regeneration switched the
    // events.parquet physical ts encoding and the batch path was fixed
    // (TablesSpec pins normalizeTs on three fixtures) — this closes
    // the STREAMING replay: streamingHourly readStreams a staged dir,
    // so drive it over each checked-in fixture and require the same
    // hourly profile as the batch reader on the same file.
    for (fx <- Seq("events_ntz", "events_nanos", "events_utc")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_fx_$fx")
      try {
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(
            getClass.getResource(s"/ts_fixtures/$fx.parquet").getPath),
          java.nio.file.Paths.get(s"$dir/events.parquet"))
        val batch = StreamingQueries.tumblingHourly(spark, dir.toString)
          .select("window_start", "events").collect().map(r =>
            (r.getTimestamp(0), r.getLong(1))).toSeq
        val stream = StreamingQueries.streamingHourly(spark, dir.toString)
          .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
        assert(batch.nonEmpty, s"$fx: fixture read empty")
        assert(stream === batch, s"$fx: stream/batch hourly profiles differ")
      } finally TempArtifacts.deleteNow(dir)
    }
  }

  test("w13 streaming heavy hitters: all bands green, equal to batch t20") {
    val sRow = StreamingQueries.streamingHeavyHitters(spark, sfDir).head()
    val bRow = Text.heavyHitters(spark, sfDir).head()
    for (c <- Seq("band_k_returned", "band_top1", "band_recall",
        "band_counts_within")) {
      assert(sRow.getAs[Boolean](c), s"stream $c")
      assert(bRow.getAs[Boolean](c), s"batch $c")
    }
  }

  test("w14 semantic gate: planted near-dups caught, clean vectors pass") {
    val n = Tables.embeddings(spark, sfDir).count()
    val split = n / 2
    val rows = StreamingQueries.streamingSemanticGate(spark, sfDir).collect()
    assert(rows.length === (n - split),
      "one verdict per incoming vector, none dropped by the cell join")
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val planted = v % 10 == 7 || v % 10 == 9
      if (planted) {
        // a jittered revision of base vector (v % split): the gate
        // must flag it and point at exactly that base vector
        assert(r.getAs[Int]("is_dup") === 1, s"planted near-dup $v missed")
        assert(r.getAs[Long]("match_id") === v % split,
          s"planted near-dup $v matched the wrong base vector")
        assert(r.getAs[Double]("best_cos") >= Dedup.semTheta)
      } else {
        // a fresh random unit vector: cosine-far from the base corpus
        assert(r.getAs[Int]("is_dup") === 0,
          s"clean vector $v falsely flagged (cos ${r.getAs[Double]("best_cos")})")
      }
    }
  }

  test("w12 streaming funnel equals the batch r08 summary row-for-row") {
    val s = StreamingQueries.streamingFunnel(spark, sfDir)
    val b = Temporal.funnel(spark, sfDir)
    assert(s.exceptAll(b).count() === 0)
    assert(b.exceptAll(s).count() === 0)
  }

  test("funnel state machine: window exclusion, strictness, continuation") {
    import FunnelMachine._
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    def ev(t: String, tp: String) =
      FEvent(1L, java.sql.Timestamp.valueOf(t), tp)
    def run(state: TestGroupState[FunnelState], evs: FEvent*) =
      transition(Seq("view", "click", "purchase"), 24L)(
        1L, evs.iterator, state).toSeq
    // in-window progression through all three steps
    def fresh() = TestGroupState.create[FunnelState](
      Optional.empty[FunnelState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val s1 = fresh()
    assert(run(s1,
      ev("2024-01-01 00:00:00", "view"),
      ev("2024-01-01 05:00:00", "click"),
      ev("2024-01-01 23:00:00", "purchase")) === Seq(FunnelOut(1L, 3)))
    // a click 25h after the first view misses the window
    val s2 = fresh()
    assert(run(s2,
      ev("2024-01-01 00:00:00", "view"),
      ev("2024-01-02 01:00:00", "click")) === Seq(FunnelOut(1L, 1)))
    // a click at exactly the view time does not count (strict >)
    val s3 = fresh()
    assert(run(s3,
      ev("2024-01-01 00:00:00", "view"),
      ev("2024-01-01 00:00:00", "click")) === Seq(FunnelOut(1L, 1)))
    // cross-batch continuation: state carries the click step forward
    val s4 = TestGroupState.create[FunnelState](
      Optional.of(FunnelState(2, Sessionize.toMicros(
        java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      1000L, Optional.empty[Long](), hasTimedOut = false)
    assert(run(s4,
      ev("2024-01-01 06:00:00", "purchase")) === Seq(FunnelOut(1L, 3)))
  }

  test("w11 streaming quality gate equals the batch t17 verdicts row-for-row") {
    val s = StreamingQueries.streamingQualityGate(spark, sfDir)
      .select("doc_id", "n_words", "gopher_pass")
    val b = Text.gopherRules(spark, sfDir)
      .select("doc_id", "n_words", "gopher_pass")
    assert(s.exceptAll(b).count() === 0)
    assert(b.exceptAll(s).count() === 0)
  }

  test("w15 streaming token accounting equals the batch t22 totals per source") {
    val s = StreamingQueries.streamingTokenAccounting(spark, sfDir)
    // batch twin: t22's per-doc counts rolled up by source. w15 (and
    // its oracle) count what ARRIVES: a source whose docs have zero
    // qualifying words emits no row, while t22's coverage left-join
    // gives such docs (0, 0) rows — drop the all-zero groups so the
    // twins share the arrival semantics on sparse corpora too
    val b = Tables.documents(spark, sfDir).select("doc_id", "source")
      .join(Text.bpeEncode(spark, sfDir), "doc_id")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_words").as("n_words"),
        org.apache.spark.sql.functions.sum("n_tokens").as("n_tokens"))
      .filter(org.apache.spark.sql.functions.col("n_words") > 0)
    assert(s.exceptAll(b).count() === 0)
    assert(b.exceptAll(s).count() === 0)
    assert(s.count() > 0)
  }

  test("w16 streaming admission agrees with the batch t23 scores per doc") {
    import org.apache.spark.sql.functions._
    val adm = StreamingQueries.streamingAdmission(spark, sfDir)
    // every representative's recovered per-copy score equals the
    // batch classifier's score for that doc — the frozen-weights
    // stream path and t23 are ONE model
    val t23 = Text.qualityClassifier(spark, sfDir)
      .select(col("doc_id").as("rep_doc"), col("score8"), col("pred"))
    val joined = adm.join(t23, "rep_doc")
    assert(joined.count() === adm.count())
    assert(joined.filter(col("s8") =!= col("score8")).count() === 0)
    assert(joined.filter((col("admitted") === true) =!=
      (col("pred") === 1)).count() === 0)
    // copy accounting covers exactly the docs that have tokens
    val nDocs = Tables.documents(spark, sfDir)
      .filter(size(Text.tokens(lower(col("text")))) > 0).count()
    assert(adm.agg(sum("n_copies")).head().getLong(0) === nDocs)
  }

  test("checkpointed windowed agg: kill/restart emits finalized windows once, equal to batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_w").toString
    try {
      val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
      // stage events as 4 DISJOINT-TIME-RANGE files with increasing
      // mtimes: the file source processes oldest-first, so event time
      // advances across micro-batches and the 1 h watermark finalizes
      // windows progressively (random row-partitioned files would put
      // 30 days in EVERY file and the watermark would close windows
      // before their data finished arriving)
      val ev = Tables.events(spark, sfDir).select("ts")
      ev.repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
        .write.parquet(src)
      val parts = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000000000L + i * 60000L) }
      val schema = spark.read.parquet(src).schema
      val q1 = StreamingQueries.checkpointedHourlyCounts(
        spark, src, schema, ckpt, out)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((q1.lastProgress == null ||
          q1.lastProgress.numInputRows == 0) &&
          System.nanoTime() < deadline && q1.isActive)
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val q2 = StreamingQueries.checkpointedHourlyCounts(
        spark, src, schema, ckpt, out, availableNow = true)
      q2.awaitTermination(120000)
      val sink = spark.read.parquet(out)
      val batch = Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("b_events"))
        .select(col("window.start").as("window_start"), col("b_events"))
      val nSink = sink.count()
      // exactly-once across the restart: no window emitted twice
      assert(sink.select("window_start").distinct().count() === nSink)
      // every emitted window carries the exact batch count
      val agree = sink.join(batch, "window_start")
        .filter(col("events") === col("b_events")).count()
      assert(agree === nSink, "an emitted window drifted from batch")
      // the restart continued past the kill point: far more windows
      // than one micro-batch (1 of 4 files ≈ 25%) can account for —
      // only the open tail past the final watermark may be missing
      assert(nSink >= (batch.count() * 6) / 10,
        s"recovery stalled: only $nSink windows emitted")
    } finally {
      val d = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(d)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("checkpointed dedup: kill mid-stream + restart equals batch (exactly-once)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
      // stage documents as 4 source files → 4 one-file micro-batches
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      docs.repartition(4).write.parquet(src)
      val schema = spark.read.parquet(src).schema
      // leg 1: continuous micro-batches; kill once >= 1 batch committed
      // (mid-stream — later files are still unprocessed at stop time)
      val q1 = StreamingQueries.checkpointedDedup(
        spark, src, schema, ckpt, out)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while ((q1.lastProgress == null ||
          q1.lastProgress.numInputRows == 0) &&
          System.nanoTime() < deadline && q1.isActive)
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val afterKill = spark.read.parquet(out).count()
      // leg 2: restart from the SAME checkpoint, drain what's left
      val q2 = StreamingQueries.checkpointedDedup(
        spark, src, schema, ckpt, out, availableNow = true)
      q2.awaitTermination(120000)
      val sink = spark.read.parquet(out).select("fingerprint")
      val batch = Tables.documents(spark, sfDir)
        .select(md5(col("text")).as("fingerprint")).distinct()
      // exactly-once across the restart: no fingerprint duplicated...
      assert(sink.count() === sink.distinct().count(),
        s"sink must hold each fingerprint once (kill landed at $afterKill rows)")
      // ...and the recovered run completes to exactly the batch answer
      assert(sink.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(sink).count() === 0)
    } finally {
      val d = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(d)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("file-source staging drains multi-part DIRECTORY tables (gensf layout)") {
    // The driver testdata tables are single parquet files; GenData
    // ladder tables are multi-part directories — the at-scale layout.
    // A directory symlink stages an EMPTY stream (the file stream
    // source does not recurse), which is exactly how w05–w13 silently
    // drained 0 rows at gensf1 while their batch twins passed. Pin
    // the per-part staging end to end: stream-dedup a 4-part table
    // and match the batch distinct count.
    val s = spark
    val root = TempArtifacts.scratchDir("graft_multipart_sf")
    val table = root.resolve("documents.parquet").toString
    Tables.documents(s, TestSpark.sfDir).repartition(4)
      .write.parquet(table)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(table)))
    val batchDistinct = s.read.parquet(table)
      .select(md5(col("text"))).distinct().count()
    assert(batchDistinct > 0)
    val streamed = StreamingQueries.streamingDedup(s, root.toString)
    assert(streamed.count() === batchDistinct)
  }

  test("stageTable links a single-file table under its own name") {
    val stage = TempArtifacts.scratchDir("graft_stage_file")
    TempArtifacts.stageTable(stage, s"${TestSpark.sfDir}/documents.parquet")
    val entries = java.nio.file.Files.list(stage).iterator()
    val names = Iterator.continually(entries)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toSeq
    assert(names === Seq("documents.parquet"))
  }

  test("stageTable stages hive-partitioned layouts with partition VALUES intact") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions.{col, count, lit}
    val root = TempArtifacts.scratchDir("graft_stage_hive")
    val table = root.resolve("t.parquet").toString
    s.range(10).toDF("v").withColumn("k", col("v") % 2)
      .write.partitionBy("k").parquet(table)
    val stage = TempArtifacts.scratchDir("graft_stage_hive_out")
    TempArtifacts.stageTable(stage, table)
    // the gate is the DATA, not the staged file names: a flattened
    // staging reads schema-complete rows whose partition column is
    // NULL — this drain must see the real k values
    val schema = s.read.parquet(table).schema
    val agg = s.readStream.schema(schema).parquet(stage.toString)
      .groupBy("k").agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("stage_hive")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // partition discovery infers k as INT from the directory names
    val rows = s.table("stage_hive").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    s.catalog.dropTempView("stage_hive")
    assert(rows === Map(0L -> 5L, 1L -> 5L),
      s"partition values lost in staging: $rows")
  }

  test("stageTable fails loudly when a layout stages zero files") {
    val empty = TempArtifacts.scratchDir("graft_stage_empty_src")
    val stage = TempArtifacts.scratchDir("graft_stage_empty_out")
    val e = intercept[IllegalArgumentException] {
      TempArtifacts.stageTable(stage, empty.toString)
    }
    assert(e.getMessage.contains("no parquet parts staged"))
  }

  test("a drainTable whose query throws cleans up and the next drain still answers") {
    val tag = "drainfail"
    val root = {
      val probe = TempArtifacts.scratchDir("graft_root_probe")
      TempArtifacts.deleteNow(probe)
      probe.getParent
    }
    def leftoverDirs() = {
      val ls = java.nio.file.Files.list(root)
      try ls.toArray.map(_.toString).filter(_.contains(tag)).toSeq
      finally ls.close()
    }
    val ds = StreamingQueries.drainSession(spark, sfDir)
    def leftoverViews() =
      ds.catalog.listTables().collect().map(_.name).filter(_.contains(tag))
        .toSeq
    val before = StreamingQueries.streamingDedup(spark, sfDir).collect()
    val e = intercept[Exception] {
      StreamingQueries.drainTable(spark, sfDir, "documents", "append", tag)(
        _.select(expr("if(doc_id >= 0, raise_error('drain failed'), doc_id)")
          .as("v")))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("drain failed"))),
      s"the query's own error must propagate, got: $e")
    assert(leftoverDirs().isEmpty, "staging or checkpoint dir left behind")
    assert(leftoverViews().isEmpty, "the sink's temp view outlived the drain")
    assert(ds.streams.active.isEmpty, "the failed drain's query is still active")
    val after = StreamingQueries.streamingDedup(spark, sfDir).collect()
    assert(after.nonEmpty)
    assert(after.map(_.toString).toSeq === before.map(_.toString).toSeq)
  }

  test("e06 streamed ingest equals batch e03 on the same increment, row-for-row") {
    // the composition contract: the w16 admission gate's kept set IS
    // the increment the append consumes — the streamed chain (state
    // store, drain, published ledger, screens, CC, placement) must
    // reproduce the batch product exactly, not just hash-equal
    val a = Pipeline.incrementAppend(spark, sfDir).collect()
    val b = Pipeline.streamIngest(spark, sfDir).collect()
    assert(a.length === b.length)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.nonEmpty)
  }

  test("e06 restart: admission drain killed mid-stream + restarted yields " +
      "the identical ledger and the identical append") {
    // the w07 exactly-once property for e06's OWN drain (round-16
    // verdict "next" 5): the admission agg's state store, recovered
    // from a durable checkpoint after a mid-stream kill, must finish
    // to exactly the ledger e06 published — and therefore to exactly
    // the same append
    val root = java.nio.file.Files.createTempDirectory("graft_e06ck").toString
    try {
      val src = s"$root/src"; val ckpt = s"$root/ckpt"
      val hold = s"$root/hold"
      val sid = Dedup.incrementalSplitId(spark, sfDir)
      // full corpus as 4 one-file micro-batches — but leg 1 only ever
      // SEES the first two: the other two land in `src` after the
      // kill, so the kill is mid-stream BY CONSTRUCTION (not
      // probabilistically, as the first spelling was — a fast run
      // could commit all 4 batches before stop() and make leg 2's
      // recovery vacuous). The chain's stateless doc_id >= sid screen
      // scopes the state, like e06's.
      Tables.documents(spark, sfDir).select("doc_id", "text")
        .repartition(4).write.parquet(hold)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val parts = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(hold))
        try s.filter(_.toString.endsWith(".parquet"))
          .sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
        finally s.close()
      }
      assert(parts.length === 4)
      def stage(ps: Seq[java.nio.file.Path]): Unit = ps.foreach { p =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(src, p.getFileName.toString))
      }
      stage(parts.take(2))
      val schema = spark.read.parquet(src).schema
      def start(name: String, availableNow: Boolean) = {
        val agg = StreamingQueries.admissionAggOn(spark, sfDir,
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src), sid)
        val w = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("complete")
        (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else w).start()
      }
      // leg 1: kill once BOTH staged micro-batches committed (the
      // progress log shows batchId >= 1 with rows) — the kill then
      // provably lands mid-stream: batches 2-3's files don't exist yet
      val q1 = start("e06ck1", availableNow = false)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!q1.recentProgress.exists(p =>
          p.batchId >= 1L && p.numInputRows > 0) &&
          System.nanoTime() < deadline && q1.isActive)
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val committedAtKill = q1.recentProgress
        .filter(_.numInputRows > 0).map(_.batchId)
      assert(committedAtKill.nonEmpty && committedAtKill.max >= 1L &&
        committedAtKill.max < 3L,
        s"kill must land mid-stream (committed: ${committedAtKill.toSeq})")
      spark.catalog.dropTempView("e06ck1")
      // leg 2: the remaining two files appear, recover from the SAME
      // checkpoint, drain what's left
      stage(parts.drop(2))
      val q2 = start("e06ck2", availableNow = true)
      q2.awaitTermination(120000)
      assert(q2.recentProgress.exists(_.numInputRows > 0),
        "leg 2 must drain the post-kill files — recovery was vacuous")
      val recovered = StreamingQueries.admissionVerdict(
        spark.table("e06ck2")).localCheckpoint()
      spark.catalog.dropTempView("e06ck2")
      // identical LEDGER: the recovered admitted set equals the one
      // e06 published (which the e06≡e03 test above already ties to
      // the batch oracle)
      Pipeline.streamIngest(spark, sfDir).collect()
      val published = PlanMemo.publishedParquet(spark, sfDir,
        "stream_admitted_increment")(
        fail("e06 must already have published the admitted ledger"))
      val rec = recovered.filter(col("admitted")).select("fingerprint")
      assert(rec.exceptAll(published).count() === 0)
      assert(published.exceptAll(rec).count() === 0)
      assert(rec.count() > 0)
      // identical APPEND: e06's own composition run on the recovered
      // ledger reproduces its gated frame row-for-row
      val incQ = Tables.documents(spark, sfDir)
        .filter(col("doc_id") >= sid)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.expr(
            "optimizer_barrier(md5(text))").as("fingerprint"))
        .join(rec.hint("shuffle_hash"), Seq("fingerprint"), "left_semi")
        .select("doc_id")
      val a = Pipeline.incrementAppendFrom(spark, sfDir, incQ).collect()
      val b = Pipeline.streamIngest(spark, sfDir).collect()
      assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
        s"append diverged after restart (kill landed at " +
          s"batch ${committedAtKill.max})")
    } finally {
      val d = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(d)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }
}
