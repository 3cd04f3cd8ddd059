package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's interactive frontend session re-expressed as a
  * plain long-lived class — the state streamlit keeps between widget
  * interactions (`/root/reference/streamlit_app/app5.py:200-276`):
  * one SparkSession, a current enriched frame (bundled project sample
  * OR an uploaded CSV), a registered temp view for free-form SQL, a
  * seeded cached scoring sample, and loaded PipelineModels.
  *
  * Every capability delegates to the oracle-gated engine pieces:
  * upload = S4 ([[Sources.uploadedCsv]]) + [[Features.enrich]]
  * (app5.py:118-127), preview = S11 safe projection
  * ([[Reports.preview]], app5.py:129-152), SQL = the `taxi` temp view
  * (app5.py:263-276, q19's surface), KPI tables = tab-3's
  * aggregations (app5.py:280-320), reports = the 05c tree, scoring =
  * ml07's seeded-cached-sample + threshold override
  * (app5.py:355-426). Only the session/state glue is new here.
  *
  * Scale posture: each source is sized once, when it is set, by
  * Spark's own estimate (`optimizedPlan.stats.sizeInBytes`) against
  * [[AppSession.SmallSourceBytes]]. A small source is read and enriched
  * once, into a persisted (`MEMORY_AND_DISK`) single-partition copy
  * that serves every request. Its `SinglePartition` output satisfies
  * every distribution an aggregate, sort or window asks for, so the
  * KPI, summary and templated-SQL plans carry no `Exchange` and run as
  * one small job. A larger source is served from its LAZY plan: there
  * the one-time build of the copy costs more than it saves. The copy
  * belongs to its session alone (see `ownCopy`). Besides the copy,
  * the session holds one bounded cached scoring sample; both are
  * unpersisted on the next source switch and on [[close]]. Nothing here
  * collects the full frame on the driver.
  */
final class AppSession(val spark: SparkSession, sfDir: String) {
  import AppSession.{SmallSourceBytes, ViewName}

  /** Tells this session's cached copies from another session's. */
  private val id = AppSession.ids.getAndIncrement()

  /** The source's lazy plan; see [[current]]. */
  private var source: DataFrame = _
  /** What requests read: the cached single-partition copy of a small
    * source, otherwise `source` itself.
    */
  private var frame: DataFrame = _
  /** The scoring sample and the `(n, seed)` it was drawn with. */
  private var sample: Option[((Int, Int), DataFrame)] = None
  /** The temp file of the current source when it is an upload. */
  private var upload: Option[java.nio.file.Path] = None

  useProjectSample() // app5 boots on the bundled sample (app5.py:200-203)

  /** The current source's enriched frame as a lazy plan over its
    * files (whatever source is active): `inputFiles` names the
    * parquet or the uploaded CSV, which the cached copy's plan hides.
    * Requests do not read it; they read the served copy.
    */
  def current: DataFrame = source

  /** The frame every request reads: the persisted single-partition
    * copy of a small source, or [[current]] itself.
    */
  private[graft] def served: DataFrame = frame

  /** Source "Project sample": bundled events, enriched. */
  def useProjectSample(): DataFrame =
    setSource(Features.enrich(Tables.events(spark, sfDir)))

  /** Source "Upload CSV": bytes → temp file → header/inferSchema read
    * → enrich (S4, app5.py:118-127). An events-schema CSV takes the
    * exact project path; anything else (e.g. a genuine
    * `tpep_pickup_datetime` vendor CSV) goes through the
    * schema-FLEXIBLE enrichment — sniffed timestamp columns, derived
    * features where possible, typed nulls elsewhere — so upload
    * degrades like app5 instead of throwing (app5.py:76-101).
    */
  def uploadCsv(bytes: Array[Byte]): DataFrame = {
    val file = Sources.uploadFile(bytes)
    val raw = Sources.readCsv(spark, file.toString)
    val isEventsSchema =
      Seq("ts", "value", "props").forall(raw.columns.contains)
    setSource(
      if (isEventsSchema) Features.enrich(raw)
      else Features.enrichFlexible(raw),
      Some(file))
  }

  /** Replaces the source and returns the served frame. The old
    * source's served copy and cached sample are unpersisted and, if it
    * was an upload, its temp file deleted: no frame of this session
    * reads it any more. The new source is sized here, once (see the
    * class doc): when Spark's estimate of its size is at most
    * [[AppSession.SmallSourceBytes]], requests and the `taxi` view read
    * a persisted single-partition copy, built by the first action on
    * it; otherwise they read `df`.
    */
  private def setSource(df: DataFrame,
                        file: Option[java.nio.file.Path] = None): DataFrame = {
    dropSource()
    upload = file
    source = df
    val small =
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= SmallSourceBytes
    frame = if (small) ownCopy(df) else df
    frame.createOrReplaceTempView(ViewName)
    frame
  }

  /** `df` in one partition, persisted for this session alone. Spark
    * caches by plan, so two sessions' copies of one source would be one
    * cache entry, and the first session to unpersist it would drop it
    * for both. A column holding this session's id, dropped again at
    * once, keeps the plans apart.
    */
  private def ownCopy(df: DataFrame): DataFrame = {
    val owner = "__graft_app_session"
    df.withColumn(owner, lit(id)).coalesce(1).drop(owner)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Tab 1 preview: display-safe projection + bounded collect. */
  def preview(n: Int = 20): Array[Row] = Reports.preview(frame, n)

  /** Tab 1 quick summary (rows / avg fare / avg total / avg tip rate,
    * app5.py:248-258).
    */
  def summary(): DataFrame = frame.agg(
    count(lit(1)).as("rows"),
    Exact.avgMoney(col("fare_amount")).as("avg_fare"),
    Exact.avgMoney(col("total_amount")).as("avg_total"),
    Exact.round4(avg("tip_rate")).as("avg_tip_rate"))

  /** Tab 2: free-form SQL over the registered `taxi` view. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Tab 3 KPI tables, computed over the CURRENT frame (not the
    * bundled tables — an uploaded CSV changes these, app5.py:280-320).
    */
  def kpiByPayment: DataFrame = frame
    .groupBy(col("event_type").as("payment_type"))
    .agg(count(lit(1)).as("trips"),
      Exact.avgMoney(col("fare_amount")).as("avg_fare"),
      Exact.avgMoney(col("total_amount")).as("avg_total"),
      Exact.round4(avg("tip_rate")).as("avg_tip_rate"))
    .orderBy(desc("trips"), col("payment_type"))

  def kpiByHour: DataFrame = frame
    .groupBy(col("pickup_hour"))
    .agg(count(lit(1)).as("trips"),
      Exact.avgMoney(col("fare_amount")).as("avg_fare"))
    .orderBy("pickup_hour")

  def kpiHeatmap: DataFrame = frame
    .groupBy(col("pickup_dow"), col("pickup_hour"))
    .agg(count(lit(1)).as("trips"),
      Exact.avgMoney(col("total_amount")).as("avg_total"))
    .orderBy("pickup_dow", "pickup_hour")

  /** Tab 4: the 05c report tree (bundled KPI queries → CSV dir). */
  def writeReports(outDir: String): Seq[String] =
    Reports.writeReportTree(spark, sfDir, outDir)

  /** Tab 5 scoring sample: seeded shuffle, bounded, CACHED (O6 + M13,
    * app5.py:355-356) — memoized per `(n, seed)` for the session; a
    * sample drawn with other arguments, or a source switch, unpersists
    * it. `rand(seed)` draws per partition, so the rows depend on the
    * served frame's partitioning (one partition for a small source).
    */
  def scoringSample(n: Int = 500, seed: Int = 42): DataFrame =
    sample.collect { case ((`n`, `seed`), s) => s }.getOrElse {
      dropSample()
      val s = frame.orderBy(rand(seed)).limit(n).cache()
      sample = Some((n, seed) -> s)
      s
    }

  /** Tab 5 prediction with threshold override (M12, app5.py:388-426):
    * transform the cached sample; for classifiers expose P(class=1)
    * and the thresholded decision.
    */
  def score(model: PipelineModel, threshold: Double = 0.5): DataFrame = {
    val scored = model.transform(scoringSample())
    if (scored.columns.contains("probability"))
      scored
        .withColumn("proba1", vector_to_array(col("probability")).getItem(1))
        .withColumn("prediction_at_threshold",
          (col("proba1") >= threshold).cast("int"))
    else scored
  }

  def loadModel(dir: String): PipelineModel = PipelineModel.load(dir)

  def close(): Unit = dropSource()

  // Unpersists block until the blocks are gone, so freeing a replaced
  // frame ends inside the request that replaced it instead of running
  // beside the requests after it.
  private def dropSample(): Unit = {
    sample.foreach(_._2.unpersist(blocking = true))
    sample = None
  }

  private def dropSource(): Unit = {
    dropSample()
    // a lazy source is never unpersisted: its plan may match a cache
    // this session does not own
    if (frame ne source) frame.unpersist(blocking = true)
    upload.foreach(TempArtifacts.deleteNow)
    upload = None
  }
}

object AppSession {
  /** The reference's temp-view name (app5.py:263). */
  val ViewName = "taxi"

  /** The largest estimated source size served from a cached
    * single-partition copy. Measured on a 4-core host (`local[4]`),
    * counting the copy's build plus 16 reads per source, the benchmark's
    * request mix between two uploads: for events parquet the two paths
    * break even at 150 k rows (7.9 MB estimated) and the lazy plan wins
    * at 400 k rows (21 MB). A CSV upload's estimate runs 2.4–3.2× that
    * of the same rows in parquet, and the copy wins on CSV to at least
    * 1 M rows (147 MB), so the bound is set by parquet, the earlier
    * crossover.
    */
  private[graft] val SmallSourceBytes: Long = 8L << 20

  private val ids = new java.util.concurrent.atomic.AtomicLong
}

/** Interactive driver program: `runMain graft.Shell [sfDir]` — a
  * stdin REPL over [[AppSession]], the long-lived "session + uploaded
  * file + cached sample" shape of the reference's streamlit app
  * without the widget layer.
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("graft-shell")
    spark.sparkContext.setLogLevel("ERROR")
    val session = new AppSession(spark, sfDir)
    println("graft shell — commands: preview [n] | summary | sql <q> | " +
      "kpis | report <dir> | plots <dir> | upload <csvPath> | sample | " +
      "list [prefix] | run <query> | quit")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var live = true
    while (live) {
      print("graft> "); Console.flush()
      val line = Option(in.readLine()).map(_.trim).getOrElse("quit")
      val (cmd, rest) = line.split("\\s+", 2) match {
        case Array(c, r) => (c, r)
        case Array(c) => (c, "")
      }
      try cmd match {
        case "" =>
        case "quit" | "exit" => live = false
        case "preview" =>
          session.preview(rest.toIntOption.getOrElse(20)).foreach(println)
        case "summary" => session.summary().show(truncate = false)
        case "sql" => session.sql(rest).show(50, truncate = false)
        case "kpis" =>
          session.kpiByPayment.show(truncate = false)
          session.kpiByHour.show(24, truncate = false)
        case "report" =>
          session.writeReports(rest).foreach(n => println(s"Saved: $rest/$n.csv"))
        case "plots" =>
          Plots.writePlotTree(spark, sfDir, rest)
            .foreach(n => println(s"Saved: $rest/$n"))
        case "upload" =>
          val df = session.uploadCsv(
            java.nio.file.Files.readAllBytes(java.nio.file.Path.of(rest)))
          println(s"CSV loaded and enriched (${df.count()} rows).")
        case "sample" =>
          println(s"project sample (${session.useProjectSample().count()} rows)")
        case "list" => // the full library surface, by optional prefix
          SparkEntry.queries.keys.toSeq.sorted
            .filter(_.startsWith(rest)).foreach(println)
        case "run" => // any registered query against this session's sfDir
          SparkEntry.queries.get(rest) match {
            case Some(fn) => fn(spark, sfDir).show(50, truncate = false)
            case None => println(
              s"unknown query: $rest (try `list` for the registry)")
          }
        case other => println(s"unknown command: $other")
      } catch { case e: Exception => println(s"error: ${e.getMessage}") }
    }
    session.close()
    spark.stop()
    sys.exit(0)
  }
}
