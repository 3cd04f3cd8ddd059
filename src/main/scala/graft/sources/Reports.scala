package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output/report surface (SURVEY.md §2.1 S7/S11, §2.8 F6): the
  * reference's single-part CSV sink and the pandas-safe display
  * projection (streamlit_app/app5.py:129-152) re-specified for Scala
  * as "safe projection + limit + collect".
  *
  * `coalesce(1)` caps the final stage at one task — correct for the
  * reference's small KPI/sample exports, an anti-pattern for bulk
  * data; [[writeCsvParts]] is the scale path (partitioned output, no
  * parallelism collapse).
  */
object Reports {

  val DisplayTsFormat = "yyyy-MM-dd HH:mm:ss"

  /** S7 — the reference's exact sink shape: limit → coalesce(1) →
    * header CSV, overwrite (spark_jobs/02d_sql_aggs.py:30-37).
    * Timestamps pinned to a microsecond-lossless format so a
    * round-trip read reproduces the input exactly.
    */
  def writeCsvSample(df: DataFrame, path: String, limit: Int = 100000): Unit =
    df.limit(limit).coalesce(1).write
      .mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  /** Partitioned CSV sink — the 100 TB variant (one file per task). */
  def writeCsvParts(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  /** Partitioned JSONL corpus sink — the DEFAULT bulk form of the
    * canonical LLM-corpus interchange format: one json-lines file per
    * task, optionally hive-partitioned (e.g. by lang) so corpus
    * readers prune whole directories. The single-part `coalesce(1)`
    * spelling survives only inside the c04 round-trip fixture — at
    * bulk scale it serializes the entire write through one task.
    */
  def writeJsonlParts(df: DataFrame, path: String,
                      partitionCols: String*): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .json(path)

  /** Bucketed + sorted managed table — the co-located-join layout:
    * two tables bucketed the same way join with NO shuffle (sort-merge
    * over matching buckets; plan shape pinned in ScaleOpsSpec).
    */
  def writeBucketed(df: DataFrame, table: String,
                    numBuckets: Int, bucketCol: String): Unit =
    df.write.bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .mode("overwrite").saveAsTable(table)

  /** Hive-style partitioned parquet sink — the bulk-output layout at
    * scale: readers filtering on the partition column prune entire
    * directories before any I/O (PartitionFilters in the scan plan;
    * pinned by IoSpec).
    */
  def writeParquetPartitioned(df: DataFrame, path: String,
                              partitionCols: String*): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S11 — display-safe projection (app5.py:132-146): drop
    * array/map/struct/vector columns, decimal → double, timestamp →
    * formatted string (F6). Everything else passes through.
    */
  def safeProjection(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.flatMap { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => None
        case _: DecimalType => Some(col(f.name).cast("double").as(f.name))
        case _: TimestampType | _: TimestampNTZType =>
          // NTZ formats identically under the UTC-pinned session —
          // a display surface must never leak a raw timestamp object
          Some(date_format(col(f.name), DisplayTsFormat).as(f.name))
        case _ => Some(col(f.name))
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Driver-side preview: safe projection + limit + collect — the
    * `toPandas` stand-in (SURVEY §7.5.6). Bounded driver memory by
    * construction.
    */
  def preview(df: DataFrame, n: Int = 20): Array[Row] =
    safeProjection(df).limit(n).collect()

  /** O8 — show passthrough (display surface parity). */
  def show(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  /** The 05b/05c report job shape (spark_jobs/05c_make_report.py:90-182):
    * run each KPI query and export it as a single-part header CSV under
    * `outDir/<name>/`. Returns the written report names.
    */
  def writeKpiReports(spark: SparkSession, sfDir: String,
                      outDir: String,
                      names: Seq[String] = defaultReportKpis): Seq[String] = {
    names.foreach { n =>
      writeCsvSample(SparkEntry.queries(n)(spark, sfDir), s"$outDir/$n")
    }
    names
  }

  /** The reference's report tables: payment dist, hourly, buckets,
    * heatmap, tip rate (05c:90-139).
    */
  val defaultReportKpis: Seq[String] = Seq(
    "q03_payment_dist", "q02_trips_per_hour", "q04_distance_buckets",
    "q09_heatmap_dow_hour", "q10_tip_rate_by_payment")

  /** The 05c report-tree layout: reference table name → the graft
    * query computing it (05c_make_report.py:90-150). The same five
    * aggregations feed 05b's four charts (05b_plots.py:54-124), so
    * this tree IS the chart data; PNG rendering is a matplotlib
    * concern, not a Spark capability, and is deliberately out of
    * scope (documented in COVERAGE.md).
    */
  val reportTree: Seq[(String, String)] = Seq(
    "kpi_by_payment_type" -> "q03_payment_dist",
    "kpi_by_pickup_hour" -> "q02_trips_per_hour",
    "kpi_by_distance_bucket" -> "q04_distance_buckets",
    "kpi_heatmap_dow_hour" -> "q09_heatmap_dow_hour",
    "kpi_tip_rate_by_payment_type" -> "q10_tip_rate_by_payment")

  /** Write the full 05c-equivalent report directory: one single-part
    * header CSV per KPI table under `outDir/<reference name>.csv`
    * (the reference's exact sink shape, 05c:165-176). Returns the
    * written table names.
    */
  def writeReportTree(spark: SparkSession, sfDir: String,
                      outDir: String): Seq[String] =
    reportTree.map { case (refName, query) =>
      writeCsvSample(SparkEntry.queries(query)(spark, sfDir),
        s"$outDir/$refName.csv")
      refName
    }
}

/** Runnable 05b/05c analog: `runMain graft.ReportRun [sfDir] [outRoot]`
  * writes `outRoot/report_<utc-run-id>/kpi_*.csv` — the reference's
  * timestamped tabular report tree (05c_make_report.py:11-14,165-182)
  * from the same five KPI queries the driver oracle-gates.
  */
object ReportRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse("target/reports")
    val run = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val outDir = s"$outRoot/report_$run"
    val spark = Tables.session("graft-report")
    spark.sparkContext.setLogLevel("ERROR")
    val written = Reports.writeReportTree(spark, sfDir, outDir)
    written.foreach(n => println(s"Saved: $outDir/$n.csv"))
    println(s"Done. Tabular reports saved in: $outDir")
    spark.stop()
    sys.exit(0)
  }
}

/** Oracle-checked queries exercising the CSV + display surface. */
object IoQueries {

  /** c01 — CSV round-trip: events sample → reference-shaped CSV sink
    * (S7) → inferSchema read-back (S1) → aggregate. The oracle runs
    * the same aggregate on the parquet directly, so the round-trip
    * must be lossless (types, timestamps, quoted JSON strings).
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    // tmpfs-backed scratch (guide §6): the round-trip CONTRACT is the
    // sink format + losslessness, not the medium — same rationale as
    // the round-11 streaming scratch move; production writes point at
    // durable storage exactly as before
    val out = TempArtifacts.stableScratchDir("graft_csv")
      .resolve("events_sample").toString
    val sample = Tables.events(spark, dir).filter(col("user_id") < 50)
    Reports.writeCsvSample(sample, out, limit = 1000000)
    Sources.readCsv(spark, out, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .groupBy(col("event_type").as("payment"))
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("value")).as("total_value"),
        countDistinct("user_id").as("users"))
      .orderBy("payment")
  }

  val csvRoundTripSql: String =
    s"""SELECT event_type AS payment, COUNT(*) AS n,
       |  ${Exact.sumMoneySql("value")} AS total_value,
       |  COUNT(DISTINCT user_id) AS users
       |FROM events WHERE user_id < 50
       |GROUP BY 1 ORDER BY payment""".stripMargin

  /** c02 — display-safe projection semantics (S11 + F6), oracle-
    * checked: array column dropped, decimal → double, timestamp →
    * 'yyyy-MM-dd HH:mm:ss' string.
    */
  def safeDisplay(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.events(spark, dir)
      .filter(col("user_id") < 3)
      .withColumn("arr", array(col("value")))          // must be dropped
      .withColumn("val_dec", col("value").cast("decimal(12,2)"))
    Reports.safeProjection(df)
      .orderBy("event_id")
  }

  val safeDisplaySql: String =
    """SELECT event_id,
      |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
      |  user_id, event_type, value, props,
      |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS val_dec
      |FROM events WHERE user_id < 3 ORDER BY event_id""".stripMargin

  /** c03 — seeded shuffle sample (O6/F12, app5.py:355-356):
    * orderBy(rand(42)).limit(n). rand(seed) is partition-layout
    * dependent → rows-only check by design (SURVEY §5.1); the
    * SamplingSpec properties pin size/subset/determinism-in-session.
    */
  def randSample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .orderBy(rand(42))
      .limit(100)
      .select("event_id", "user_id", "event_type", "value")

  /** c03 driver gate (round-9 verdict item 3): the sampled ROWS are
    * partition-layout dependent, but the sample's CONTRACT is not —
    * exactly n rows, every id drawn from the source (left-anti join,
    * distributed), and the same seed in the same session reproduces
    * the identical row set (order-independent bit_xor/xxhash64
    * digest, overflow-free). Reduced to one hashable row with a
    * constant oracle, so any violated property turns c03 hash-red
    * instead of hiding behind a rows-only check.
    */
  def randSampleGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val s1 = randSample(spark, dir).cache()
    val nRows = s1.count()
    val outside = s1.select("event_id")
      .join(ev.select("event_id"), Seq("event_id"), "left_anti").count()
    def digest(df: DataFrame): Long = df
      .agg(bit_xor(xxhash64(col("event_id"), col("user_id"),
        col("event_type"), col("value"))))
      .head().getLong(0)
    val stable = digest(s1) == digest(randSample(spark, dir))
    s1.unpersist()
    Seq((nRows, outside == 0L, stable))
      .toDF("n_rows", "ids_subset", "seed_stable")
  }

  val randSampleGateSql: String =
    """SELECT CAST(100 AS BIGINT) AS n_rows,
      |  TRUE AS ids_subset, TRUE AS seed_stable""".stripMargin

  /** c04 — JSONL round-trip: documents → json-lines sink → explicit-
    * schema read-back → per-language profile. JSONL is the canonical
    * LLM-corpus interchange format, and the aggregate (doc counts,
    * char sums, DISTINCT text hashes) proves the round-trip preserved
    * every text byte through JSON escaping. The read uses an explicit
    * schema — the 100 TB ingest path (no inference scan); the oracle
    * computes the same profile from the parquet directly, so any sink
    * or source infidelity breaks the hash.
    */
  def jsonlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    // tmpfs-backed scratch — see csvRoundTrip
    val out = TempArtifacts.stableScratchDir("graft_jsonl")
      .resolve("documents").toString
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "source", "n_chars", "text")
    docs.coalesce(1).write.mode("overwrite").json(out)
    spark.read.schema(docs.schema).json(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        countDistinct(md5(col("text"))).as("distinct_texts"))
      .orderBy("lang")
  }

  val jsonlRoundTripSql: String =
    """SELECT lang, COUNT(*) AS docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(DISTINCT md5(text)) AS distinct_texts
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  /** c05 — Z-order layout profile: Morton key of (hour-of-day,
    * user-bucket) per event, bucketed to the granularity a file/row
    * group would hold. Each bucket's tight min/max on BOTH dimensions
    * is exactly the footer-stats rectangle a z-ordered write gives a
    * pruning scan ([[ZOrder.writeZOrdered]] is the write path; IoSpec
    * proves the locality win over a time-sorted layout with real
    * parquet files). Map-side key arithmetic + one bounded group-by —
    * the profile itself is scan-shaped.
    */
  def zorderProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // h spans only 5 bits (0–23); ×11 stretches it across the full
      // 8-bit range (0–253) so its HIGH bits vary too — without the
      // stretch, every bucket boundary above bit 9 falls on h bits
      // that are constantly 0 and the profile shows no hour locality
      .withColumn("h", (hour(col("ts")) * 11).cast("int"))
      .withColumn("u", (col("user_id") % 256).cast("int"))
      .withColumn("z", expr(ZOrder.interleaveExpr("h", "u")))
      .groupBy(expr("z div 1024").as("zbucket"))
      .agg(count(lit(1)).as("events"),
        min("h").as("h_min"), max("h").as("h_max"),
        min("u").as("u_min"), max("u").as("u_max"))
      .orderBy("zbucket")

  val zorderProfileSql: String = {
    val z = ZOrder.interleaveSql("h", "u")
    s"""WITH d AS (
       |  SELECT CAST(hour(CAST(ts AS TIMESTAMP)) * 11 AS INT) AS h,
       |    CAST(user_id % 256 AS INT) AS u
       |  FROM events
       |), k AS (
       |  SELECT h, u, $z // 1024 AS zbucket FROM d)
       |SELECT zbucket, COUNT(*) AS events,
       |  MIN(h) AS h_min, MAX(h) AS h_max,
       |  MIN(u) AS u_min, MAX(u) AS u_max
       |FROM k GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  // ---------------------------------------------------------------
  /** c08 — ORC round-trip: events → hive-partitioned multi-part ORC
    * sink (`partitionBy(event_type)`, one file per task — the bulk
    * layout, never `coalesce(1)`) → read back → per-type profile.
    * ORC is Spark's second built-in columnar format; a warehouse
    * migrating between ORC and parquet estates needs both directions
    * lossless. The profile pins what the round-trip must preserve:
    * row counts, user cardinality, exact value sums (integer-cents,
    * order-independent), and the event-id range per partition. The
    * oracle computes the same profile straight from the parquet
    * source — any loss or type drift in the ORC trip breaks the hash.
    *
    * Scale shape: the write is one task per input partition into
    * pruned `event_type=` directories; the read-back scan prunes on
    * the partition column and the profile is a scan-shaped bounded
    * group-by (one row per event type).
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    // tmpfs-backed scratch — see csvRoundTrip
    val out = TempArtifacts.stableScratchDir("graft_orc")
      .resolve("events").toString
    Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").orc(out)
    spark.read.orc(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        sum(floor(col("value") * 10000 + lit(0.5)).cast("long"))
          .as("value_e4"),
        min(col("event_id")).as("id_min"),
        max(col("event_id")).as("id_max"))
      .orderBy("event_type")
  }

  val orcRoundTripSql: String =
    """SELECT event_type, COUNT(*) AS events,
      |  COUNT(DISTINCT user_id) AS users,
      |  CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS value_e4,
      |  MIN(event_id) AS id_min, MAX(event_id) AS id_max
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  /** c06 — CORPUS CARD: the one-row dataset summary a corpus release
    * ships (docs/tokens/languages/sources, order-independent mean
    * quality, the near-dup footprint, and the duplicate-paragraph
    * rate). Every number is a reuse of an already-gated family
    * pipeline — and the card consumes those families the way a real
    * release pipeline does: it reads their PUBLISHED parquet
    * artifacts ([[PlanMemo.publishedParquet]] — a publish-once,
    * corpus-fingerprint-keyed artifact), never re-running the d03/d15/
    * t03 pipelines once they have shipped. The card itself is then
    * one pass over each small artifact plus tiny broadcast joins of
    * 1-row aggregates; only the doc-count/token base scans the
    * corpus.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("docs"),
      sum(size(Text.tokens(lower(col("text")))).cast("long"))
        .as("total_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"))
    val quality = PlanMemo.publishedParquet(spark, dir, "t03_quality_scores")(
        Text.qualityScores(spark, dir)).agg(
      Exact.round4(
        sum(floor(col("quality_score") * 10000 + lit(0.5)).cast("long"))
          .cast("double") / (count(lit(1)) * 10000.0)).as("mean_quality"))
    val pairs = Dedup.pairsPublished(spark, dir)
    val nearDup = pairs.agg(count(lit(1)).as("neardup_pairs"))
    val nearDocs = pairs.select(explode(array(col("d1"), col("d2"))).as("d"))
      .agg(countDistinct("d").as("neardup_docs"))
    val paraRate = PlanMemo.publishedParquet(spark, dir, "d15_paragraph_dedup")(
        Dedup.paragraphDedup(spark, dir)).agg(
      Exact.round4(lit(1.0) -
        sum("n_kept").cast("double") / sum("n_paras")).as("dup_para_rate"))
    base.crossJoin(broadcast(quality))
      .crossJoin(broadcast(nearDup))
      .crossJoin(broadcast(nearDocs))
      .crossJoin(broadcast(paraRate))
  }

  val corpusCardSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardPairsCteSql},
       |base AS (
       |  SELECT COUNT(*) AS docs,
       |    CAST(SUM(len(${Text.tokensSql("lower(text)")})) AS BIGINT)
       |      AS total_tokens,
       |    COUNT(DISTINCT lang) AS n_langs,
       |    COUNT(DISTINCT source) AS n_sources
       |  FROM documents
       |), q AS (
       |  SELECT ${Exact.round4Sql(
            "CAST(SUM(CAST(FLOOR(quality_score * 10000 + 0.5) AS BIGINT)) AS DOUBLE)" +
            " / (COUNT(*) * 10000.0)")} AS mean_quality
       |  FROM (${Text.qualityScoresSql})
       |), np AS (
       |  SELECT COUNT(*) AS neardup_pairs FROM pairs
       |), nd AS (
       |  SELECT COUNT(DISTINCT d) AS neardup_docs FROM (
       |    SELECT d1 AS d FROM pairs UNION ALL SELECT d2 FROM pairs)
       |), pr AS (
       |  SELECT ${Exact.round4Sql(
            "1.0 - CAST(SUM(n_kept) AS DOUBLE) / SUM(n_paras)")} AS dup_para_rate
       |  FROM (${Dedup.paragraphDedupSql})
       |)
       |SELECT docs, total_tokens, n_langs, n_sources, mean_quality,
       |  neardup_pairs, neardup_docs, dup_para_rate
       |FROM base CROSS JOIN q CROSS JOIN np CROSS JOIN nd CROSS JOIN pr""".stripMargin

  // ---------------------------------------------------------------
  /** c07 — INCREMENTAL ROLLUP MAINTENANCE: the materialized-view
    * update every warehouse runs — a stored daily KPI table absorbs
    * an increment WITHOUT rescanning history. The split falls
    * mid-day (the hard case: the increment COMPLETES a partial day),
    * so the merge is a full-outer join by day summing both sides —
    * not a blind append. Revenue is carried as integer CENTS in the
    * stored rollup and divided only at presentation, so
    * base + delta is exactly the full recompute (a double-typed
    * rollup would drift in the last ulp and break the gate).
    *
    * The hash gate runs the ORACLE as one full aggregation over all
    * events — proving the incremental path equals the from-scratch
    * answer. Scale posture: the delta is one partition's worth of
    * events; history is touched only through the (days-sized) stored
    * rollup, never rescanned.
    */
  val rollupSplitTs = "2024-01-25 12:00:00"

  def incrementalKpis(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("ts"), col("value"))
    def daily(df: DataFrame) = df.groupBy("day").agg(
      count(lit(1)).as("events"),
      sum(Exact.cents(col("value")).cast("long")).as("cents"))
    val split = lit(rollupSplitTs).cast("timestamp")
    val base = daily(ev.filter(col("ts") < split))   // the stored rollup
    val delta = daily(ev.filter(col("ts") >= split)) // the new increment
    base.select(col("day"), col("events").as("b_events"), col("cents").as("b_cents"))
      .join(delta.select(col("day"), col("events").as("d_events"),
        col("cents").as("d_cents")), Seq("day"), "full_outer")
      .select(
        col("day"),
        (coalesce(col("b_events"), lit(0L)) +
          coalesce(col("d_events"), lit(0L))).as("events"),
        ((coalesce(col("b_cents"), lit(0L)) +
          coalesce(col("d_cents"), lit(0L))) / 100.0).as("revenue"))
      .orderBy("day")
  }

  /** Oracle: the from-scratch daily rollup over ALL events. */
  val incrementalKpisSql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |  COUNT(*) AS events,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS revenue
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c07_incremental_kpis" -> incrementalKpis _,
    "c06_corpus_card" -> corpusCard _,
    "c01_csv_roundtrip" -> csvRoundTrip _,
    "c02_safe_display" -> safeDisplay _,
    "c03_rand_sample" -> randSampleGate _,
    "c04_jsonl_roundtrip" -> jsonlRoundTrip _,
    "c05_zorder_profile" -> zorderProfile _,
    "c08_orc_roundtrip" -> orcRoundTrip _
  )

  def oracles: Map[String, String] = Map(
    "c07_incremental_kpis" -> incrementalKpisSql,
    "c06_corpus_card" -> corpusCardSql,
    "c01_csv_roundtrip" -> csvRoundTripSql,
    "c02_safe_display" -> safeDisplaySql,
    "c03_rand_sample" -> randSampleGateSql,
    "c04_jsonl_roundtrip" -> jsonlRoundTripSql,
    "c05_zorder_profile" -> zorderProfileSql,
    "c08_orc_roundtrip" -> orcRoundTripSql
  )
}
