package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tables.balanced]]'s gate semantics, in particular the
  * single-row-group trap: a large one-row-group parquet file PLANS
  * `>= defaultParallelism` byte-range splits, but every row lands in
  * the one split containing the row group's midpoint — so a gate on
  * planned splits silently no-ops and CPU-heavy map stages serialize
  * on one core. The gate must therefore decide off footer row-group
  * counts, not planned splits.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private def nonEmptyPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt

  private def withTmp[A](f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toFile
    try f(dir)
    finally {
      java.nio.file.Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("single-row-group file that PLANS many splits is still rebalanced") {
    withTmp { dir =>
      val path = s"$dir/one_rg"
      spark.range(0, 5000).select(col("id"), md5(col("id").cast("string")).as("pad"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      // tiny split size: the ~190 KB single-row-group file now plans
      // dozens of byte-range splits — the planned count looks healthy
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      try {
        val df = spark.read.parquet(path)
        val target = spark.sparkContext.defaultParallelism
        assert(df.rdd.getNumPartitions >= target,
          "precondition: planned splits must look sufficient (the trap)")
        assert(nonEmptyPartitions(df) === 1,
          "precondition: all rows in ONE split (single row group)")
        val bal = Tables.balanced(df)
        assert(nonEmptyPartitions(bal) === target,
          "balanced must see through planned splits and rebalance")
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("multi-file parquet input is a no-op (no repartition tax)") {
    withTmp { dir =>
      val path = s"$dir/many_files"
      spark.range(0, 5000).repartition(8).write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      assert(Tables.balanced(df) eq df,
        ">= parallelism files must gate the rebalance off")
    }
  }

  test("column projection prunes the parquet ReadSchema to what's selected") {
    val df = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    df.write.format("noop").mode("overwrite").save()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.isDefined)
    assert(scan.get.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_quantity"),
      "scan must read only the projected columns")
  }

  test("single file with many row groups is a no-op") {
    withTmp { dir =>
      val path = s"$dir/many_rgs"
      // ~1 KB row groups force many groups into one file
      spark.range(0, 5000)
        .select(col("id"), md5(col("id").cast("string")).as("pad"))
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", "1024").parquet(path)
      val df = spark.read.parquet(path)
      assert(Tables.balanced(df) eq df,
        ">= parallelism row groups in one file must gate the rebalance off")
    }
  }

  // -----------------------------------------------------------------
  // The events.ts physical-encoding contract (round-10 regression):
  // the driver has shipped ts as TIMESTAMP(NANOS) (→ LongType under
  // nanosAsLong), as timestamp[us] WITHOUT timezone (→ TIMESTAMP_NTZ),
  // and plain UTC TIMESTAMP is the third encoding a real lake holds.
  // Tables.events must normalize ALL THREE to identical TimestampType
  // values — pinned here on 5-row fixtures so the next silent driver
  // regeneration is a red unit test, not 28 red driver rows.
  // Fixture instants carry sub-microsecond nanos to pin the
  // truncation rule (nanos div 1000, DuckDB's TIMESTAMP_NS → TIMESTAMP
  // semantics).

  private def fixturePath(name: String): String =
    getClass.getResource(s"/ts_fixtures/$name.parquet").getPath

  private def eventsVia(fixture: String): Seq[String] = withTmp { dir =>
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixturePath(fixture)),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val df = Tables.events(spark, dir.toString)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType,
      s"$fixture must normalize ts to TimestampType")
    df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .orderBy("ts").collect().map(_.getString(0)).toSeq
  }

  test("events.ts: nanos-as-long, NTZ and UTC encodings yield identical values") {
    val nanos = eventsVia("events_nanos")
    val ntz   = eventsVia("events_ntz")
    val utc   = eventsVia("events_utc")
    assert(nanos.nonEmpty)
    assert(nanos === ntz, "TIMESTAMP(NANOS) and TIMESTAMP_NTZ must agree")
    assert(nanos === utc, "TIMESTAMP(NANOS) and UTC TIMESTAMP must agree")
    // pin the truncation rule on the sub-microsecond fixture rows:
    // ...123456789 ns → .123456, ...999999999 ns → .999999 (floor)
    assert(nanos.head.endsWith(".123456"))
    assert(nanos(2).endsWith(".999999"))
  }

  test("a session reads each corpus table once: a second read runs no job") {
    val s = spark.newSession()
    val readers = () =>
      (Tables.documents(s, sfDir), Tables.events(s, sfDir),
        Tables.lineitem(s, sfDir))
    val first = readers()
    // count every job that starts until a sentinel job (own job group)
    // does: the listener bus delivers job starts in submission order
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains("tables-spec-sentinel")) sentinel.countDown()
        else jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val again = readers()
      s.sparkContext.setJobGroup("tables-spec-sentinel", "sentinel")
      try s.range(1).count() finally s.sparkContext.clearJobGroup()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get === 0,
        "a second read of documents/events/lineitem ran Spark jobs")
      assert(again._1 eq first._1,
        "the second Tables.documents must return the memoized frame")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("normalizeTs leaves a frame without a ts column untouched") {
    val df = Tables.region(spark, sfDir)
    assert(Tables.normalizeTs(df) eq df)
  }
}
