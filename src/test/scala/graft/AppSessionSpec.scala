package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[AppSession]] — the app5.py session-state semantics: source
  * switching, the registered SQL view, the seeded cached scoring
  * sample's lifecycle, and threshold scoring.
  */
class AppSessionSpec extends AnyFunSuite {
  import TestSpark._

  /** Two events-shaped rows; k=8 → tip = floor(20*15)/100 = 3.00. */
  private val tinyCsv =
    """event_id,ts,user_id,event_type,value,props
      |1,2024-01-05 10:30:00,7,card,20.0,"{""k"":8}"
      |2,2024-01-06 22:15:00,9,cash,20.0,"{""k"":8}"
      |""".stripMargin.getBytes("UTF-8")

  test("boots on the project sample with the taxi view registered") {
    val s = new AppSession(spark, sfDir)
    assert(s.sql("SELECT COUNT(*) AS n FROM taxi").head().getLong(0) ===
      s.current.count())
    assert(Seq("pickup_hour", "tip_rate", "label_tip")
      .forall(s.current.columns.contains))
  }

  test("q19 leaves the session's enriched taxi view in place") {
    val s = new AppSession(spark, sfDir)
    assert(SparkEntry.queries("q19_sql_surface")(s.spark, sfDir).count() > 0)
    // q19 registers raw events as `taxi` in its own child session; the
    // session's enriched view must still resolve pickup_hour
    val row = s.sql("SELECT COUNT(*), MIN(pickup_hour) FROM taxi").head()
    assert(row.getLong(0) === s.current.count())
  }

  test("uploaded CSV replaces the source and is enriched; summary is exact") {
    val s = new AppSession(spark, sfDir)
    s.uploadCsv(tinyCsv)
    assert(s.sql("SELECT COUNT(*) AS n FROM taxi").head().getLong(0) === 2L)
    val row = s.summary().head()
    assert(row.getLong(row.fieldIndex("rows")) === 2L)
    assert(row.getDouble(row.fieldIndex("avg_fare")) === 20.0)
    assert(row.getDouble(row.fieldIndex("avg_total")) === 23.0)  // 20 + 3.00 tip
    assert(row.getDouble(row.fieldIndex("avg_tip_rate")) === 0.15)
    // hour derivations came through enrich
    assert(s.sql("SELECT pickup_hour FROM taxi ORDER BY event_id")
      .collect().map(_.getInt(0)).toSeq === Seq(10, 22))
  }

  test("a replaced upload's temp file is deleted; the current source still answers") {
    val s = new AppSession(spark, sfDir)
    def uploadFile(): java.nio.file.Path = {
      val csv = s.current.inputFiles.filter(_.endsWith(".csv"))
      assert(csv.length === 1)
      java.nio.file.Paths.get(new java.net.URI(csv.head))
    }
    def answers(rows: Long): Unit = {
      assert(s.preview(5).length === math.min(5L, rows))
      assert(s.summary().head().getAs[Long]("rows") === rows)
      assert(s.sql("SELECT COUNT(*) FROM taxi").head().getLong(0) === rows)
      assert(s.kpiByPayment.collect().map(_.getAs[Long]("trips")).sum === rows)
    }
    s.uploadCsv(tinyCsv)
    val first = uploadFile()
    s.uploadCsv(tinyCsv)
    val second = uploadFile()
    assert(!java.nio.file.Files.exists(first), "the first upload's file is gone")
    assert(java.nio.file.Files.exists(second))
    answers(2L)
    s.useProjectSample()
    assert(!java.nio.file.Files.exists(second), "the second upload's file is gone")
    answers(s.current.count())
  }

  test("scoring sample: cached, session-stable, invalidated on source switch") {
    val s = new AppSession(spark, sfDir)
    val sm = s.scoringSample(100)
    assert(sm.storageLevel.useMemory, "sample must be cached")
    assert(sm.count() === 100)
    assert(s.scoringSample(100) eq sm, "memoized within the session")
    s.uploadCsv(tinyCsv)
    assert(sm.storageLevel === StorageLevel.NONE,
      "old source's sample must be unpersisted")
    val sm2 = s.scoringSample(100)
    assert(!(sm2 eq sm))
    assert(sm2.count() === 2, "new sample drawn from the new source")
  }

  test("threshold scoring exposes proba1 with a monotone decision") {
    val s = new AppSession(spark, sfDir)
    val model = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("value", "is_weekend"))
        .setOutputCol("features").setHandleInvalid("keep"),
      new LogisticRegression()
        .setLabelCol("label_tip").setFeaturesCol("features").setMaxIter(5)))
      .fit(s.scoringSample(300))
    def positives(t: Double): Long =
      s.score(model, t).filter(col("prediction_at_threshold") === 1).count()
    assert(s.score(model).columns.contains("proba1"))
    assert(positives(0.1) >= positives(0.5))
    assert(positives(0.5) >= positives(0.9))
  }

  /** A genuine vendor-convention taxi CSV — NOT the events schema. */
  private val taxiCsv =
    """tpep_pickup_datetime,tpep_dropoff_datetime,trip_distance,fare_amount,tip_amount,total_amount,payment_type
      |2024-01-05 10:30:00,2024-01-05 10:50:00,3.5,20.0,3.0,23.0,1
      |2024-01-06 22:15:00,2024-01-06 22:45:00,8.1,20.0,0.0,20.0,2
      |""".stripMargin.getBytes("UTF-8")

  test("schema-flexible upload: a vendor taxi CSV degrades like app5") {
    val s = new AppSession(spark, sfDir)
    // train on the PROJECT sample first — scoring the upload with it
    // is the cross-schema contract
    val model = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("value", "is_weekend"))
        .setOutputCol("features").setHandleInvalid("keep"),
      new LogisticRegression()
        .setLabelCol("label_tip").setFeaturesCol("features").setMaxIter(5)))
      .fit(s.scoringSample(300))
    s.uploadCsv(taxiCsv)
    // preview + summary + KPIs all run on the sniffed/derived frame
    assert(s.preview(5).length === 2)
    val row = s.summary().head()
    assert(row.getLong(row.fieldIndex("rows")) === 2L)
    assert(row.getDouble(row.fieldIndex("avg_fare")) === 20.0)
    assert(s.sql("SELECT pickup_hour FROM taxi ORDER BY tpep_pickup_datetime")
      .collect().map(_.getInt(0)).toSeq === Seq(10, 22))
    // night/weekend derivations follow the sniffed pickup timestamp
    assert(s.sql("SELECT night_flag FROM taxi ORDER BY tpep_pickup_datetime")
      .collect().map(_.getInt(0)).toSeq === Seq(0, 1))
    // payment_type doubles as the KPI category
    assert(s.kpiByPayment.collect().map(_.getString(0)).sorted === Array("1", "2"))
    // and the project-trained model scores the upload without throwing
    val scored = s.score(model)
    assert(scored.count() === 2)
    assert(scored.columns.contains("proba1"))
  }

  test("scoring sample is memoized per (n, seed); a replaced sample is unpersisted") {
    val s = new AppSession(spark, sfDir)
    val rows = s.current.count()
    val first = s.scoringSample(100)
    assert(first.count() === 100)
    val larger = s.scoringSample(300)
    assert(larger.count() === math.min(300L, rows), "n is honoured")
    assert(first.storageLevel === StorageLevel.NONE,
      "the replaced sample must be unpersisted")
    assert(s.scoringSample(300) eq larger, "memoized for the same (n, seed)")
    val reseeded = s.scoringSample(300, seed = 7)
    assert(!(reseeded eq larger), "seed is honoured")
    assert(larger.storageLevel === StorageLevel.NONE)
    assert(reseeded.storageLevel.useMemory)
  }

  /** The session's request frames, in one fixed order. The `sql` one
    * resolves `taxi` when it is built, against the view of the session
    * that registered it last.
    */
  private def requests(s: AppSession): Seq[(String, DataFrame)] = Seq(
    "kpiByPayment" -> s.kpiByPayment,
    "kpiByHour" -> s.kpiByHour,
    "kpiHeatmap" -> s.kpiHeatmap,
    "summary" -> s.summary(),
    "sql" -> s.sql("SELECT pickup_dow, COUNT(*) AS trips, MAX(fare_amount) AS max_fare " +
      "FROM taxi WHERE pickup_hour < 20 GROUP BY pickup_dow ORDER BY pickup_dow"))

  /** Collects `df`, then returns its rows and every node of the plan
    * that ran: adaptive execution's final plan, into every query stage
    * (the root one included) and subquery.
    */
  private def planRun(df: DataFrame): (Seq[Row], Seq[SparkPlan]) = {
    val rows = df.collect().toSeq
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    (rows, nodes(df.queryExecution.executedPlan))
  }

  private def exchanges(plan: Seq[SparkPlan]): Seq[Exchange] =
    plan.collect { case e: Exchange => e }

  /** Runs `body` on two copies of the test corpus's events in 4 parquet
    * parts, holding the same rows: a small one, and a large one whose
    * unused `pad` column, stored raw, puts Spark's size estimate over
    * [[AppSession.SmallSourceBytes]]. Four parts, because the
    * single-file original scans as one partition, whose plans need no
    * exchange on either path.
    */
  private def withPartedEvents(body: (String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_app_parted")
    try {
      Tables.events(spark, sfDir).repartition(4)
        .write.parquet(s"$dir/small/events.parquet")
      val small = spark.read.parquet(s"$dir/small/events.parquet")
      val padChars = 2 * AppSession.SmallSourceBytes / small.count()
      small.withColumn("pad", repeat(lit("x"), padChars.toInt))
        .write.option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .parquet(s"$dir/large/events.parquet")
      body(s"$dir/small", s"$dir/large")
    } finally TempArtifacts.deleteNow(dir)
  }

  test("a small source is served from one cached partition, a large one lazily; same answers") {
    withPartedEvents { (small, large) =>
      val s = new AppSession(spark, small)
      assert(s.served.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(s.served.rdd.getNumPartitions === 1)
      val fromCopy = requests(s)
      val lz = new AppSession(spark, large)
      assert(lz.current.queryExecution.optimizedPlan.stats.sizeInBytes >
        AppSession.SmallSourceBytes)
      assert(lz.served eq lz.current, "the large source is served lazily")
      assert(lz.served.storageLevel === StorageLevel.NONE)
      fromCopy.zip(requests(lz)).foreach { case ((name, df), (_, overLazy)) =>
        val (rows, plan) = planRun(df)
        assert(exchanges(plan).isEmpty,
          s"$name planned an exchange:\n${df.queryExecution.executedPlan}")
        assert(rows.nonEmpty, name)
        val (lazyRows, lazyPlan) = planRun(overLazy)
        assert(exchanges(lazyPlan).nonEmpty, s"$name keeps its shuffle when lazy")
        assert(rows === lazyRows, s"$name answers as over the lazy plan")
      }
      s.close()
      lz.close()
    }
  }

  test("the served copy is unpersisted on upload, on useProjectSample and on close") {
    val s = new AppSession(spark, sfDir)
    val project = s.served
    assert(project.storageLevel === StorageLevel.MEMORY_AND_DISK)
    s.uploadCsv(tinyCsv)
    assert(project.storageLevel === StorageLevel.NONE)
    val upload = s.served
    assert(upload.storageLevel === StorageLevel.MEMORY_AND_DISK)
    s.useProjectSample()
    assert(upload.storageLevel === StorageLevel.NONE)
    val again = s.served
    assert(again.storageLevel === StorageLevel.MEMORY_AND_DISK)
    s.close()
    assert(again.storageLevel === StorageLevel.NONE)
  }

  test("each session owns its copy: closing one leaves the other's cached") {
    val a = new AppSession(spark, sfDir)
    val b = new AppSession(spark, sfDir)
    assert(a.summary().head() === b.summary().head())
    a.close()
    assert(b.served.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(planRun(b.kpiByPayment)._2.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "b's requests still read its cached copy")
    b.close()
    assert(b.served.storageLevel === StorageLevel.NONE)
  }
}
