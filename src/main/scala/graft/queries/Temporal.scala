package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated temporal join queries over `events` exercising
  * [[TemporalJoins]]. The DuckDB oracles deliberately use a DIFFERENT
  * algorithm (native `ASOF JOIN` / plain inequality join) than the
  * Spark implementations (union+window / bucketed equi join), so a
  * hash match is an independent cross-check of the semantics, not an
  * echo of the same plan.
  *
  * Timestamp parity: both engines compare at microsecond precision —
  * Tables.events truncates nanos→micros, the oracles CAST the raw
  * TIMESTAMP_NS to TIMESTAMP (same truncation).
  */
object Temporal {

  /** r06 — as-of join: every click annotated with the user's latest
    * purchase value at-or-before the click. Purchases are
    * pre-aggregated per (user, ts) — [[TemporalJoins.leftAsOf]]'s
    * uniqueness contract and the determinism the oracle needs.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max("value").as("pval"))
    TemporalJoins.leftAsOf(clicks, purchases, Seq("user_id"),
        "ts", "ts", Seq("pval"), prefix = "")
      .select(col("event_id"), col("user_id"),
        col("pval").as("last_purchase_value"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'
      |), purch AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |)
      |SELECT c.event_id, c.user_id, p.pval AS last_purchase_value
      |FROM clicks c ASOF LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND c.cts >= p.pts
      |ORDER BY c.event_id""".stripMargin

  /** r07 — range join: clicks landing within 30 minutes (inclusive)
    * after each purchase by the same user, counted per purchase.
    * Bucket size = the window length, so each interval explodes into
    * at most 2 bucket keys.
    */
  val windowSeconds = 1800L

  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("pts"))
      .withColumn("end_ts", expr(s"timestampadd(SECOND, $windowSeconds, pts)"))
    val matched = TemporalJoins.rangeJoin(clicks, purchases, Seq("user_id"),
        "cts", "pts", "end_ts", windowSeconds)
      .groupBy("p_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"))
    purchases.select("p_id", "user_id")
      // shuffle_hash: per-purchase click counts are events-scale
      .join(matched.hint("shuffle_hash"), Seq("p_id", "user_id"), "left")
      .select(col("p_id"), col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("p_id")
  }

  val rangeJoinSql: String =
    s"""WITH c AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
       |  FROM events WHERE event_type = 'click'
       |), p AS (
       |  SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS pts
       |  FROM events WHERE event_type = 'purchase'
       |)
       |SELECT p.p_id, p.user_id, COUNT(c.cts) AS n_clicks
       |FROM p LEFT JOIN c
       |  ON c.user_id = p.user_id
       |  AND c.cts >= p.pts
       |  AND c.cts <= p.pts + INTERVAL $windowSeconds SECOND
       |GROUP BY 1, 2 ORDER BY p_id""".stripMargin

  // ---------------------------------------------------------------
  /** r08 — ORDERED FUNNEL (view → click → purchase): the product-
    * analytics staple. Step semantics are strictly sequential: a
    * user converts to step n only with an event AFTER their step-
    * (n−1) conversion time and within [[funnelWindowHours]] of it
    * (without the window every user in a month-long dense stream
    * trivially converts and the funnel measures nothing). Each step
    * is one filter + per-user min aggregate + equi join on user_id —
    * partial-combining shuffles keyed by user, never a window over
    * the whole event stream, so the funnel depth (not the corpus
    * size) bounds the number of shuffles at 100 TB.
    */
  val funnelSteps = Seq("view", "click", "purchase")
  val funnelWindowHours = 24L

  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // step 1: first view; step n: first <type> after the user's
    // step-(n-1) conversion — built as one declarative plan (no
    // driver-side counts; the three step frames chain lazily)
    val stepFrames = funnelSteps.tail.scanLeft(
      ev.filter(col("event_type") === funnelSteps.head)
        .groupBy("user_id").agg(min("ts").as("t"))) { (prev, step) =>
      ev.filter(col("event_type") === step)
        // shuffle_hash: `prev` has one row per user still in the
        // funnel — users-scale, not a broadcast side
        .join(prev.hint("shuffle_hash"), "user_id")
        .filter(col("ts") > col("t") &&
          col("ts") <= expr(s"timestampadd(HOUR, $funnelWindowHours, t)"))
        .groupBy("user_id").agg(min("ts").as("t"))
    }
    val counts = stepFrames.zip(funnelSteps).zipWithIndex.map {
      case ((df, step), i) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(i + 1).as("step"), lit(step).as("event_type"),
            col("users"))
    }.reduce(_ unionAll _)
    val first = counts.filter(col("step") === 1)
      .select(col("users").cast("double").as("u1"))
    counts.crossJoin(broadcast(first))
      .withColumn("conversion",
        Exact.round4(col("users") / greatest(col("u1"), lit(1.0))))
      .select("step", "event_type", "users", "conversion")
      .orderBy("step")
  }

  val funnelSql: String = {
    // steps/window interpolated from the same constants the Spark
    // side uses, so a retune keeps both engines in lockstep
    val stepCtes = funnelSteps.tail.zipWithIndex.map { case (step, i) =>
      s"""s${i + 2} AS (
         |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
         |  FROM events e JOIN s${i + 1} USING (user_id)
         |  WHERE e.event_type = '$step' AND CAST(e.ts AS TIMESTAMP) > s${i + 1}.t
         |    AND CAST(e.ts AS TIMESTAMP) <= s${i + 1}.t + INTERVAL $funnelWindowHours HOUR
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    val countSelects = funnelSteps.zipWithIndex.map { case (step, i) =>
      s"SELECT ${i + 1} AS step, '$step' AS event_type, COUNT(*) AS users FROM s${i + 1}"
    }.mkString("\nUNION ALL\n")
    s"""WITH s1 AS (
       |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t
       |  FROM events WHERE event_type = '${funnelSteps.head}' GROUP BY 1
       |), $stepCtes, counts AS (
       |$countSelects
       |)
       |SELECT CAST(step AS INT) AS step, event_type, users,
       |  floor(users / GREATEST((SELECT users FROM counts WHERE step = 1), 1.0)
       |    * 10000 + 0.5) / 10000.0 AS conversion
       |FROM counts ORDER BY step""".stripMargin
  }

  /** r10 — the r06 as-of join through the NATIVE physical operator
    * ([[graft.plans.AsOfJoinExec]]): key-clustered, (key, ts)-sorted
    * children stream-merged with O(1) state — one exchange per side,
    * no union, no window buffer. Same answer as r06 by construction,
    * so it shares r06's DuckDB native-ASOF oracle; the plan shape
    * (AsOfJoinExec present, no Window) is pinned in
    * TemporalJoinsSpec.
    */
  def asofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_uid"), col("ts").as("pts"))
      .agg(max("value").as("pval"))
    clicks.join(purchases,
        col("user_id") === col("p_uid") && expr("asof_le(ts, pts)"),
        "left_outer")
      .select(col("event_id"), col("user_id"),
        col("pval").as("last_purchase_value"))
      .orderBy("event_id")
  }

  /** r09 — RETENTION COHORTS: users grouped by first-seen day, and
    * for each day offset 0..[[retentionDays]] the fraction of the
    * cohort active that day. The canonical engagement query. Scale
    * shape: first-seen is one per-user min; activity dedups to
    * (user, day) BEFORE the cohort join; the result is bounded by
    * cohorts × offsets, never by events.
    */
  val retentionDays = 7

  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct() // (user, active-day) — events collapse map-side
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    // shuffle_hash: one cohort row per user — users-scale (the
    // day-level `sizes` frame below IS bounded and stays a broadcast)
    ev.join(cohorts.hint("shuffle_hash"), "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset").between(0, retentionDays))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort_day")
      .withColumn("retention", Exact.round4(
        col("active_users").cast("double") / col("cohort_size")))
      .select("cohort_day", "day_offset", "active_users", "cohort_size",
        "retention")
      .orderBy("cohort_day", "day_offset")
  }

  val retentionSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
       |  FROM events
       |), cohorts AS (
       |  SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1
       |), sizes AS (
       |  SELECT cohort_day, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
       |), act AS (
       |  SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
       |    COUNT(*) AS active_users
       |  FROM ud JOIN cohorts USING (user_id)
       |  WHERE date_diff('day', cohort_day, day) BETWEEN 0 AND $retentionDays
       |  GROUP BY 1, 2
       |)
       |SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       |  active_users, cohort_size,
       |  ${Exact.round4Sql("CAST(active_users AS DOUBLE) / cohort_size")} AS retention
       |FROM act JOIN sizes USING (cohort_day)
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------
  /** r11 — the r07 range join through the NATIVE physical operator
    * ([[graft.plans.RangeJoinExec]]): key-clustered children, points
    * sorted by (key, ts) and intervals by (key, start), stream-merged
    * with an open-interval buffer — each interval crosses its
    * exchange ONCE, versus r07's bucketed spelling where every
    * interval duplicates into length/bucket + 1 equi-join rows. Same
    * answer by construction, so it shares r07's oracle; the plan
    * shape (RangeJoinExec present, no explode/bucket column) is
    * pinned in TemporalJoinsSpec.
    */
  def rangeJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("pts"))
      .withColumn("end_ts", expr(s"timestampadd(SECOND, $windowSeconds, pts)"))
    val matched = clicks.join(purchases,
        col("user_id") === col("p_uid") &&
          expr("interval_contains(cts, pts, end_ts)"),
        "inner")
      .groupBy("p_id", "p_uid")
      .agg(count(lit(1)).as("n_clicks"))
    purchases.select(col("p_id"), col("p_uid"))
      // shuffle_hash: per-purchase click counts are events-scale
      .join(matched.hint("shuffle_hash"), Seq("p_id", "p_uid"), "left")
      .select(col("p_id"), col("p_uid").as("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("p_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r06_asof_join" -> asofJoin _,
    "r07_range_join" -> rangeJoin _,
    "r08_funnel" -> funnel _,
    "r09_retention" -> retention _,
    "r10_asof_native" -> asofJoinNative _,
    "r11_range_native" -> rangeJoinNative _
  )

  def oracles: Map[String, String] = Map(
    "r06_asof_join" -> asofJoinSql,
    "r07_range_join" -> rangeJoinSql,
    "r08_funnel" -> funnelSql,
    "r09_retention" -> retentionSql,
    // the native operator computes exactly r06's semantics
    "r10_asof_native" -> asofJoinSql,
    // the native range operator computes exactly r07's semantics
    "r11_range_native" -> rangeJoinSql
  )
}
