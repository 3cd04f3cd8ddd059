package graft

import java.awt.image.BufferedImage
import java.awt.{BasicStroke, Color, Font}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chart rasterization — the reference's 05b plot job
  * (`/root/reference/spark_jobs/05b_plots.py:18-124`) re-expressed on
  * the JDK's own raster stack: `java.awt.Graphics2D` renders the bar
  * charts and `javax.imageio` compresses them to PNG (through the
  * one PNG writer the media codecs use, `Multimodal.Codec`), so the one
  * reference output artifact previously out of scope (matplotlib
  * PNGs) ships with zero extra dependencies.
  *
  * Determinism: antialiasing is OFF and every color/geometry is
  * computed from the data, so re-rendering identical aggregates
  * yields byte-identical PNGs (pinned in PlotsSpec).
  *
  * Scale posture: like the reference's `toPandas`, each chart
  * collects ONE already-aggregated KPI table (≤ 24 rows) — the heavy
  * work happens in the oracle-gated aggregations; the driver only
  * rasterizes bounded rows.
  */
object Plots {

  val Width = 900
  val Height = 500

  private val MarginLeft = 80
  private val MarginRight = 24
  private val MarginTop = 52
  private val MarginBottom = 72

  private val BarColor = new Color(70, 114, 178)  // matplotlib C0-ish
  private val GridColor = new Color(220, 220, 220)

  /** Smallest 1/2/5 × 10^k ≥ v — the classic "nice" axis ceiling. */
  private[graft] def niceCeil(v: Double): Double = {
    if (v <= 0) return 1.0
    val mag = math.pow(10, math.floor(math.log10(v)))
    Seq(1.0, 2.0, 5.0, 10.0).map(_ * mag).find(_ >= v).getOrElse(10 * mag)
  }

  private def fmtTick(v: Double, max: Double): String =
    if (max >= 10) f"${math.round(v)}%d" else f"$v%.2f"

  /** Render one bar chart to PNG bytes. */
  def barChart(labels: Seq[String], values: Seq[Double], title: String,
               xlabel: String, ylabel: String): Array[Byte] = {
    require(labels.length == values.length && labels.nonEmpty,
      "bar chart needs aligned, non-empty labels/values")
    val img = new BufferedImage(Width, Height, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      // NO antialiasing: text/edge coverage blending is the only
      // nondeterministic raster input — without it renders are
      // byte-stable
      g.setColor(Color.WHITE)
      g.fillRect(0, 0, Width, Height)
      val plotW = Width - MarginLeft - MarginRight
      val plotH = Height - MarginTop - MarginBottom
      val maxV = niceCeil(values.max.max(0.0))
      // gridlines + y ticks
      g.setFont(new Font(Font.DIALOG, Font.PLAIN, 11))
      val fm = g.getFontMetrics
      (0 to 5).foreach { i =>
        val v = maxV * i / 5
        val y = MarginTop + plotH - (plotH * i / 5)
        g.setColor(GridColor)
        g.drawLine(MarginLeft, y, MarginLeft + plotW, y)
        g.setColor(Color.DARK_GRAY)
        val s = fmtTick(v, maxV)
        g.drawString(s, MarginLeft - 8 - fm.stringWidth(s), y + fm.getAscent / 2 - 1)
      }
      // bars: 70% of each slot, centered
      val slot = plotW.toDouble / labels.length
      g.setColor(BarColor)
      values.zipWithIndex.foreach { case (v, i) =>
        val h = math.max(0, math.round(plotH * (v / maxV)).toInt)
        val w = math.max(1, math.round(slot * 0.7).toInt)
        val x = MarginLeft + math.round(slot * i + (slot - w) / 2).toInt
        g.fillRect(x, MarginTop + plotH - h, w, h)
      }
      // axes
      g.setColor(Color.BLACK)
      g.setStroke(new BasicStroke(1.5f))
      g.drawLine(MarginLeft, MarginTop, MarginLeft, MarginTop + plotH)
      g.drawLine(MarginLeft, MarginTop + plotH,
        MarginLeft + plotW, MarginTop + plotH)
      // x tick labels centered under bars
      labels.zipWithIndex.foreach { case (s, i) =>
        val cx = MarginLeft + slot * i + slot / 2
        g.drawString(s, math.round(cx).toInt - fm.stringWidth(s) / 2,
          MarginTop + plotH + fm.getHeight + 6)
      }
      // title + axis labels
      g.setFont(new Font(Font.DIALOG, Font.BOLD, 16))
      val tfm = g.getFontMetrics
      g.drawString(title, (Width - tfm.stringWidth(title)) / 2, 30)
      g.setFont(new Font(Font.DIALOG, Font.PLAIN, 12))
      val lfm = g.getFontMetrics
      g.drawString(xlabel,
        MarginLeft + (plotW - lfm.stringWidth(xlabel)) / 2, Height - 14)
      // y label: rotated 90° counter-clockwise
      val g2 = g.create().asInstanceOf[java.awt.Graphics2D]
      g2.rotate(-math.Pi / 2)
      g2.setFont(new Font(Font.DIALOG, Font.PLAIN, 12))
      g2.drawString(ylabel,
        -(MarginTop + (plotH + lfm.stringWidth(ylabel)) / 2), 20)
      g2.dispose()
    } finally g.dispose()
    Multimodal.Codec.pngBytes(img)
  }

  /** The reference's manual bucket order (05b_plots.py:105). */
  private val bucketOrder = Seq("<1mi", "1-2mi", "2-5mi", "5-10mi", ">=10mi")

  /** Collect a ≤`cap`-row aggregate as (label, value) pairs. */
  private def pairs(df: DataFrame, labelCol: String, valueCol: String,
                    cap: Int = 100): Seq[(String, Double)] =
    df.limit(cap).collect().toSeq.map { r =>
      val l = r.get(r.fieldIndex(labelCol)) match {
        case null => "null"
        case v => v.toString
      }
      val v = r.get(r.fieldIndex(valueCol)) match {
        case null => 0.0
        case n: Number => n.doubleValue()
      }
      l -> v
    }

  /** Write the six reference plots (05b_plots.py:44-124, exact
    * filenames) from the same aggregations the oracle gates. Returns
    * the written file names.
    */
  def writePlotTree(spark: SparkSession, sfDir: String,
                    outDir: String): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val trips = Kpis.trips(spark, sfDir)
    // 05b's by-hour table carries avg_fare too (05b_plots.py:60-63)
    val byHour = trips
      .groupBy(col("pickup_hour").as("hour"))
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("fare_amount")).as("avg_fare"))
      .orderBy("hour")
    // 05b's distance table uses bucket B + avg_total (05b_plots.py:92-101)
    val byDist = trips
      .withColumn("bucket", Buckets.bucketB(col("trip_distance")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("trips"),
        Exact.avgMoney(col("total_amount")).as("avg_total"))
    val byPay = Kpis.paymentDist(spark, sfDir)
    val tipByPay = Kpis.tipRateByPayment(spark, sfDir)

    val byHourP = pairs(byHour, "hour", "trips")
    val byHourFare = pairs(byHour, "hour", "avg_fare")
    val distRows = pairs(byDist, "bucket", "avg_total")
    val distTrips = pairs(byDist, "bucket", "trips")
    def inBucketOrder(ps: Seq[(String, Double)]) =
      ps.sortBy(p => bucketOrder.indexOf(p._1))

    val charts = Seq(
      ("01_trips_por_payment_type.png",
        pairs(byPay, "payment", "trips").sortBy(_._1),
        "Trips by payment_type", "payment_type", "trips"),
      ("02_trips_by_hour.png", byHourP,
        "Trips by hour", "hour", "trips"),
      ("03_avg_fare_by_hora.png", byHourFare,
        "Average fare by hour", "hour", "avg fare (USD)"),
      ("04_tip_rate_por_payment_type.png",
        pairs(tipByPay, "payment", "avg_tip_rate")
          .sortBy(_._1).map { case (l, v) => l -> v * 100.0 },
        "Average tip rate by payment_type", "payment_type",
        "avg tip rate (%)"),
      ("05_avg_total_by_dist_bucket.png", inBucketOrder(distRows),
        "Average total by distance bucket", "distance bucket",
        "avg total (USD)"),
      ("06_trips_by_dist_bucket.png", inBucketOrder(distTrips),
        "Trips by distance bucket", "distance bucket", "trips"))

    charts.map { case (name, ps, title, xl, yl) =>
      val png = barChart(ps.map(_._1), ps.map(_._2), title, xl, yl)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, name), png)
      name
    }
  }
}

/** Batch driver analog of 05b: `runMain graft.PlotRun [sfDir] [outRoot]`
  * writes the six PNGs under `outRoot/plots_<utc-run-id>/`.
  */
object PlotRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_reports")
    val runId = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val outDir = s"$outRoot/plots_$runId"
    val spark = Tables.session("graft-plots")
    spark.sparkContext.setLogLevel("ERROR")
    Plots.writePlotTree(spark, sfDir, outDir)
      .foreach(n => println(s"Saved: $outDir/$n"))
    println(s"Done. Images saved in: $outDir")
    spark.stop()
    sys.exit(0)
  }
}
