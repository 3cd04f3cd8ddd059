package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature engineering — the reference's derived-column pipeline
  * (spark_jobs/03a_engineer_features.py:38-78, streamlit_app/app5.py:86-114)
  * mapped onto the driver's `events` table.
  *
  * Mapping (events ≈ trips, SURVEY.md §7.2 / FIXTURES.md §B):
  *   - `ts`        → pickup timestamp
  *   - `value`     → fare_amount
  *   - `event_type`→ payment_type (string-keyed lookup join, Q5/Q6)
  *   - `user_id`   → vendor id
  *   - `props.$.k` → the free integer (0–99) from which trip_distance,
  *     tip_amount and trip duration analogs are derived so every
  *     reference formula (speed, tip_rate, buckets, night/weekend
  *     flags) has a live input.
  *
  * Everything is a native Column expression — the reference's Python
  * UDFs (U1–U3) and RDD round-trips deliberately become codegen'd
  * `when`/arithmetic so predicate pushdown and whole-stage codegen
  * survive (SURVEY.md §4 "anti-optimizations").
  *
  * Both sides of each ⚠ SEMANTICS divergence are exposed:
  *   - dow: `pickup_dow` 1=Sunday (dayofweek, 03a:43) and
  *     `pickup_dow_iso` 1=Monday (date_format "u", 05c:60 — expressed
  *     as weekday()+1 to avoid the LEGACY parser, SURVEY §7.5.3)
  *   - tip_rate: `tip_rate` = tip/fare (03a:60-65) and
  *     `tip_rate_total` = tip/total (05c:75-80)
  */
object Features {

  /** `k` — the integer payload of the JSON `props` column, behind an
    * [[OptimizerBarrier]]: predicates on k-derived columns are NOT
    * alias-inlined and pushed below a rebalance Exchange (which would
    * re-run the JSON parse once per predicate per row at raw-scan
    * parallelism). Requires `optimizer_barrier` to be registered
    * (GraftExtensions).
    */
  val kColFenced: Column =
    expr("optimizer_barrier(get_json_object(props, '$.k'))").cast("int")

  /** Add the full trips-analog feature set to the events frame.
    * Deliberately NO rebalance here: every derivation below is a
    * narrow codegen'd projection and the consumers are aggregations,
    * so the scan partitioning flows straight into the first (partial)
    * aggregate with zero exchanges — at 100 TB a forced repartition
    * would shuffle the whole events table before doing anything
    * (round-2 verdict: q01 paid a 6.7× tax for exactly that).
    * [[Tables.balanced]] is reserved for genuinely CPU-bound per-row
    * stages (MinHash/md5/embedding dots on documents/embeddings).
    *
    * `k` is [[kColFenced]], not a bare alias: six derived columns
    * reference k, and with a bare alias CollapseProject
    * inlines the `get_json_object` parse into every one of them —
    * the projection carries ~8 JSON parses per row instead of 1.
    * The fence pins parse-once semantics (measured at GenData sf10,
    * 10M events: enrich materialization 29 s → 15 s, q09-shaped agg
    * ~3× faster; at 100 TB the inlining tax is ~7 redundant parses
    * over the full events table). Requires `optimizer_barrier`
    * (GraftExtensions — every `Tables.configure` session has it).
    */
  def enrich(events: DataFrame): DataFrame = events
    .withColumn("k", kColFenced)
    .withColumn("pickup_ts", col("ts"))
    // duration analog: k+1 minutes ∈ [1,100] — inside the strict clean
    // range [1,240] (spark_jobs/02_clean_eda.py:57)
    .withColumn("dropoff_ts", expr("timestampadd(MINUTE, k + 1, ts)"))
    .withColumn("trip_distance", col("k") / 8.0)
    .withColumn("fare_amount", col("value"))
    // floor-based 2-dp truncation, NOT round(): Spark rounds via
    // BigDecimal HALF_UP on the shortest decimal repr while DuckDB
    // multiplies and std::round's — they disagree on exact .5
    // boundaries (e.g. 0.195), which value*0.15 hits on ~5% of rows.
    // floor(x*100)/100 is bit-identical in both engines.
    .withColumn("tip_amount",
      when(col("k") % 5 === 0, lit(0.0))
        .otherwise(floor(col("value") * 15.0) / 100.0))
    .withColumn("total_amount", col("fare_amount") + col("tip_amount"))
    // F7 epoch-seconds arithmetic (02_clean_eda.py:33-34): floor-cast
    // both ends, difference in minutes
    .withColumn("duration_min",
      (col("dropoff_ts").cast("long") - col("pickup_ts").cast("long")) / 60.0)
    .withColumn("avg_speed_mph",
      when(col("duration_min") > 0,
        floor(col("trip_distance") / (col("duration_min") / 60.0) * 100.0) / 100.0)
        .otherwise(lit(0.0)))
    .withColumn("pickup_hour", hour(col("pickup_ts")).cast("int"))
    .withColumn("pickup_day", to_date(col("pickup_ts")))
    // ⚠1 dow conventions — both variants
    .withColumn("pickup_dow", dayofweek(col("pickup_ts")).cast("int"))
    .withColumn("pickup_dow_iso", (weekday(col("pickup_ts")) + 1).cast("int"))
    // U1 is_weekend: dow ∈ {1,7} under the 1=Sunday convention
    // (03a:31-36); null dow → 0, preserved via otherwise
    .withColumn("is_weekend",
      when(col("pickup_dow").isin(1, 7), 1).otherwise(0))
    // U3 night_flag: inclusive at both ends (03a:74)
    .withColumn("night_flag",
      when(col("pickup_hour") >= 22 || col("pickup_hour") <= 5, 1).otherwise(0))
    // ⚠2 tip_rate denominators — both variants, zero-guarded
    .withColumn("tip_rate",
      when(col("fare_amount") > 0, col("tip_amount") / col("fare_amount"))
        .otherwise(lit(0.0)))
    .withColumn("tip_rate_total",
      when(col("total_amount") > 0, col("tip_amount") / col("total_amount"))
        .otherwise(lit(0.0)))
    // ⚠5 label: tip_amount > 0 (04b:33-34 convention)
    .withColumn("label_tip", (col("tip_amount") > 0).cast("int"))

  /** Schema-FLEXIBLE enrichment for arbitrary uploaded CSVs — the
    * reference frontend's tolerance (app5.py:64-117): sniff both
    * vendor timestamp conventions (F14), derive what the input
    * supports, and null-fill the rest with typed columns so every
    * downstream surface (preview, summary, KPI tabs, SQL view, model
    * scoring) runs without throwing. A genuine `tpep_pickup_datetime`
    * taxi CSV and the project's events schema both land on the same
    * feature-column contract.
    *
    * Purely narrow projections — no shuffle, no action; unresolvable
    * features cost a constant-null column, never a crash.
    */
  def enrichFlexible(raw: DataFrame): DataFrame = {
    import SchemaFlex.withIfMissing
    var df = raw
    // typed casts when present (app5.py:66-73)
    Seq("trip_distance", "fare_amount", "tip_amount", "total_amount")
      .foreach { c =>
        if (df.columns.contains(c)) df = df.withColumn(c, col(c).cast("double"))
      }
    if (df.columns.contains("payment_type"))
      df = df.withColumn("payment_type", col("payment_type").cast("int"))
    // sniff the two vendor naming schemes (app5.py:76-84)
    SchemaFlex.sniffPickupColumn(df).foreach { c =>
      df = df.withColumn("pickup_ts", to_timestamp(col(c)))
    }
    SchemaFlex.sniffDropoffColumn(df).foreach { c =>
      df = df.withColumn("dropoff_ts", to_timestamp(col(c)))
    }
    df =
      if (Seq("pickup_ts", "dropoff_ts").forall(df.columns.contains)) {
        df.withColumn("duration_min",
            (col("dropoff_ts").cast("long") - col("pickup_ts").cast("long")) / 60.0)
          .withColumn("pickup_hour", hour(col("pickup_ts")).cast("int"))
          .withColumn("pickup_day", to_date(col("pickup_ts")))
          .withColumn("pickup_dow", dayofweek(col("pickup_ts")).cast("int"))
          .withColumn("pickup_dow_iso", (weekday(col("pickup_ts")) + 1).cast("int"))
          .withColumn("is_weekend",
            when(col("pickup_dow").isin(1, 7), 1).otherwise(0))
          .withColumn("night_flag",
            when(col("pickup_hour") >= 22 || col("pickup_hour") <= 5, 1).otherwise(0))
      } else {
        // timestamp-less fallback (app5.py:94-101): typed nulls, flags 0
        Seq("duration_min" -> "double", "pickup_hour" -> "int",
            "pickup_dow" -> "int", "pickup_dow_iso" -> "int")
          .foldLeft(df) { case (d, (c, t)) =>
            withIfMissing(d, c, lit(null).cast(t))
          }
          .transform(d => withIfMissing(d, "is_weekend", lit(0)))
          .transform(d => withIfMissing(d, "night_flag", lit(0)))
      }
    // conditional ratios (app5.py:104-116)
    if (Seq("tip_amount", "fare_amount").forall(df.columns.contains))
      df = df.withColumn("tip_rate",
        when(col("fare_amount") > 0, col("tip_amount") / col("fare_amount"))
          .otherwise(lit(0.0)))
    if (Seq("duration_min", "trip_distance").forall(df.columns.contains))
      df = df.withColumn("avg_speed_mph",
        when(col("duration_min") > 0,
          col("trip_distance") / (col("duration_min") / 60.0))
          .otherwise(lit(null)).cast("double"))
    if (df.columns.contains("tip_rate"))
      df = df.withColumn("label_tip", (col("tip_rate") > 0).cast("int"))
    // engine-surface contract: the columns AppSession's tabs and the
    // trained pipelines touch always exist, as typed nulls at worst;
    // payment_type doubles as the event_type category, fare as value
    df = withIfMissing(df, "event_type",
      if (df.columns.contains("payment_type")) col("payment_type").cast("string")
      else lit(null).cast("string"))
    df = withIfMissing(df, "value",
      if (df.columns.contains("fare_amount")) col("fare_amount")
      else lit(null).cast("double"))
    Seq("trip_distance", "fare_amount", "tip_amount", "total_amount",
        "duration_min", "avg_speed_mph", "tip_rate")
      .foreach(c => df = withIfMissing(df, c, lit(null).cast("double")))
    Seq("pickup_hour", "pickup_dow", "pickup_dow_iso", "label_tip")
      .foreach(c => df = withIfMissing(df, c, lit(null).cast("int")))
    df
  }

  /** DuckDB-SQL fragment computing the identical feature set, used to
    * build oracle queries. Kept adjacent to [[enrich]] so the two
    * stay in lock-step; any edit here must mirror an edit there.
    */
  val oracleCte: String =
    """WITH feats AS (
      |  SELECT *,
      |    CAST(props->>'$.k' AS INT) AS k,
      |    CAST(ts AS TIMESTAMP) AS pickup_ts,
      |    CAST(ts AS TIMESTAMP)
      |      + INTERVAL (CAST(props->>'$.k' AS INT) + 1) MINUTE AS dropoff_ts,
      |    CAST(props->>'$.k' AS INT) / 8.0 AS trip_distance,
      |    value AS fare_amount,
      |    CASE WHEN CAST(props->>'$.k' AS INT) % 5 = 0 THEN 0.0
      |         ELSE floor(value * 15.0) / 100.0 END AS tip_amount
      |  FROM events
      |), trips AS (
      |  SELECT *,
      |    fare_amount + tip_amount AS total_amount,
      |    (CAST(floor(epoch(dropoff_ts)) AS BIGINT)
      |      - CAST(floor(epoch(pickup_ts)) AS BIGINT)) / 60.0 AS duration_min,
      |    CAST(EXTRACT(hour FROM pickup_ts) AS INT) AS pickup_hour,
      |    CAST(pickup_ts AS DATE) AS pickup_day,
      |    CAST(dayofweek(pickup_ts) + 1 AS INT) AS pickup_dow,
      |    CAST(isodow(pickup_ts) AS INT) AS pickup_dow_iso
      |  FROM feats
      |), trips2 AS (
      |  SELECT *,
      |    CASE WHEN duration_min > 0
      |         THEN floor(trip_distance / (duration_min / 60.0) * 100.0) / 100.0
      |         ELSE 0.0 END AS avg_speed_mph,
      |    CASE WHEN pickup_dow IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
      |    CASE WHEN pickup_hour >= 22 OR pickup_hour <= 5 THEN 1 ELSE 0 END AS night_flag,
      |    CASE WHEN fare_amount > 0 THEN tip_amount / fare_amount ELSE 0.0 END AS tip_rate,
      |    CASE WHEN total_amount > 0 THEN tip_amount / total_amount ELSE 0.0 END AS tip_rate_total,
      |    CAST(tip_amount > 0 AS INT) AS label_tip
      |  FROM trips
      |)""".stripMargin
}
