package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
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
}
