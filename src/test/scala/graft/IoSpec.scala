package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** CSV source/sink round-trip (S1–S4, S7) and the display-safe
  * projection (S11, F6, O8).
  */
class IoSpec extends AnyFunSuite {
  import TestSpark._

  test("CSV round-trip: write sample, read back, identical content") {
    val src = Tables.events(spark, sfDir).filter(col("user_id") < 10)
    val out = java.nio.file.Files
      .createTempDirectory("graft_iospec").toString + "/events"
    Reports.writeCsvSample(src, out)
    val back = Sources.readCsvWithSchema(spark, out, src.schema,
      "yyyy-MM-dd HH:mm:ss.SSSSSS")
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    assert(src.exceptAll(back).count() === 0)
    assert(back.exceptAll(src).count() === 0)
  }

  test("CSV sink writes exactly one part file with a header (S7 shape)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_iospec").toString + "/one"
    Reports.writeCsvSample(Tables.region(spark, sfDir), out, limit = 3)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1)
    val lines = java.nio.file.Files.readAllLines(parts.head.toPath)
    assert(lines.get(0) === "r_regionkey,r_name")
    assert(lines.size() === 4) // header + limit(3)
  }

  test("inferSchema CSV read recovers numeric and string types (S1)") {
    val csv = "id,name,score\n1,alpha,1.5\n2,beta,2.5\n"
    val df = Sources.uploadedCsv(spark, csv.getBytes("UTF-8"))
    assert(df.schema.map(_.dataType) ===
      Seq(IntegerType, StringType, DoubleType))
    assert(df.count() === 2)
  }

  test("safeProjection: drops arrays, casts decimal, formats timestamp") {
    val df = Tables.events(spark, sfDir).limit(5)
      .withColumn("arr", array(col("value")))
      .withColumn("m", map(lit("a"), col("value")))
      .withColumn("dec", col("value").cast("decimal(12,2)"))
    val safe = Reports.safeProjection(df)
    val types = safe.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(!types.contains("arr") && !types.contains("m"))
    assert(types("dec") === DoubleType)
    assert(types("ts") === StringType)
    val ts = safe.select("ts").head().getString(0)
    assert(ts.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
  }

  test("preview bounds driver-side rows (toPandas stand-in, S11)") {
    val rows = Reports.preview(Tables.events(spark, sfDir), n = 7)
    assert(rows.length === 7)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_part").toString + "/events_by_type"
    val src = Tables.events(spark, sfDir)
    Reports.writeParquetPartitioned(src, out, "event_type")
    // hive-style layout on disk
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("event_type=")))
    // a filter on the partition column must become a PartitionFilter
    // (directory pruning), not a data filter
    val q = spark.read.parquet(out).filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.isDefined)
    assert(scan.get.partitionFilters.nonEmpty,
      "expected the event_type predicate to prune partitions")
    assert(q.count() ===
      src.filter(col("event_type") === "click").count())
  }

  test("KPI report job writes one header CSV per report table (05c shape)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_reports").toString
    val names = Reports.writeReportTree(spark, sfDir, out)
    assert(names.nonEmpty)
    Reports.reportTree.foreach { case (n, query) =>
      val parts = new java.io.File(s"$out/$n.csv").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(parts.length === 1, s"$n should be a single part file")
      val header = java.nio.file.Files.readAllLines(parts.head.toPath).get(0)
      assert(header.split(",").toSeq ===
        SparkEntry.queries(query)(spark, sfDir).columns.toSeq,
        s"$n header should be $query's columns")
    }
  }

  test("report tree writes the reference's five kpi_* tables (05c layout)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_report_tree").toString
    val names = Reports.writeReportTree(spark, sfDir, out)
    assert(names === Reports.reportTree.map(_._1))
    names.foreach { n =>
      assert(n.startsWith("kpi_"), "reference report naming")
      val parts = new java.io.File(s"$out/$n.csv").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(parts.length === 1, s"$n should be a single part file")
      assert(java.nio.file.Files.readAllLines(parts.head.toPath).size() > 1,
        s"$n should have data rows")
    }
  }

  test("partitioned JSONL sink: many parts, hive-pruned dirs, no coalesce") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_jsonl_spec").toString + "/corpus"
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars", "text")
      .repartition(4)
    Reports.writeJsonlParts(docs, out, "lang")
    // hive layout: one directory per lang, multiple part files total
    val langDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(langDirs.nonEmpty)
    val parts = langDirs.flatMap(_.listFiles())
      .filter(_.getName.endsWith(".json"))
    assert(parts.length > 1,
      "bulk JSONL sink must fan out across tasks, not coalesce(1)")
    // and the round-trip preserves every row (partition col comes back
    // appended — realign by name before the set compare)
    val back = spark.read.schema(docs.schema).json(out)
      .select(docs.columns.map(col): _*)
    assert(back.count() === docs.count())
    assert(docs.exceptAll(back).count() === 0)
  }

  test("z-order interleave is a bijection over the full 8-bit x 8-bit grid") {
    val s = spark
    import s.implicits._
    val grid = s.range(0, 65536)
      .select((col("id") % 256).cast("int").as("a"),
        (col("id") / 256).cast("int").as("b"))
    val keys = grid.select(expr(ZOrder.interleaveExpr("a", "b")).as("z"))
    val stats = keys.agg(
      countDistinct("z"), min("z"), max("z")).head()
    assert(stats.getLong(0) === 65536L) // injective on the grid
    assert(stats.getLong(1) === 0L)
    assert(stats.getLong(2) === 65535L) // and onto [0, 2^16)
    // negative inputs mask INSIDE the helper (round-6 advice): the
    // same dimension shifted by any multiple of 256 interleaves to
    // the identical key, so callers need no by-convention masking
    val shifted = grid.select(
      expr(ZOrder.interleaveExpr("a - 256", "b - 512")).as("z"))
    assert(keys.exceptAll(shifted).count() === 0L)
  }

  test("z-ordered layout: per-file stat rectangles beat a time-sorted write") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("h", hour(col("ts")))
      .withColumn("u", (col("user_id") % 256).cast("int"))
      .select("event_id", "h", "u", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder")
    val zPath = s"$base/z"
    val tPath = s"$base/t"
    try {
      ZOrder.writeZOrdered(ev, "h", "u", zPath, 8)
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(tPath)
      // the (h, u) bounding box a pruning scan sees per file — the
      // z-ordered layout must cover materially less area than the
      // arrival-ordered one (files here = row groups = stat units)
      def area(path: String): Long =
        new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).map { f =>
            val r = spark.read.parquet(f.toString)
              .agg(min("h"), max("h"), min("u"), max("u")).head()
            (r.getInt(1) - r.getInt(0) + 1).toLong *
              (r.getInt(3) - r.getInt(2) + 1)
          }.sum
      val (zA, tA) = (area(zPath), area(tPath))
      assert(zA * 2 < tA, s"z-order area $zA vs time-sorted $tA")
    } finally TempArtifacts.deleteNow(base)
  }

  test("c07 incremental rollup: straddled split day, equals full recompute") {
    val merged = IoQueries.incrementalKpis(spark, sfDir)
    // the split day receives contributions from BOTH sides (the case
    // a blind append would double- or under-count)
    val split = java.sql.Timestamp.valueOf(IoQueries.rollupSplitTs)
    val ev = Tables.events(spark, sfDir)
    val splitDay = new java.sql.Date(split.getTime)
    val before = ev.filter(col("ts") < lit(split) &&
      to_date(col("ts")) === lit(splitDay)).count()
    val after = ev.filter(col("ts") >= lit(split) &&
      to_date(col("ts")) === lit(splitDay)).count()
    assert(before > 0 && after > 0, "split day not genuinely straddled")
    // merged equals the from-scratch Spark rollup row-for-row
    val full = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("events"),
        (sum(Exact.cents(col("value")).cast("long")) / 100.0).as("revenue"))
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
  }

  test("c08 ORC round-trip: hive-partitioned layout, lossless content") {
    IoQueries.orcRoundTrip(spark, sfDir).collect() // runs the write
    val out = TempArtifacts.stableScratchDir("graft_orc")
      .resolve("events").toFile
    val partDirs = out.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("event_type="))
    assert(partDirs.nonEmpty, "expected hive event_type= partition dirs")
    assert(partDirs.forall(_.listFiles().exists(_.getName.endsWith(".orc"))))
    // read-back is lossless: same multiset of rows as the source
    val src = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val back = spark.read.orc(out.toString)
      .select("event_id", "ts", "user_id", "event_type", "value")
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
    // the partition column prunes: the filter lands in PartitionFilters
    // (directory pruning), not in the data filters
    val one = spark.read.orc(out.toString)
      .filter(col("event_type") === "view")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"partition filter not pushed:\n$plan")
  }

  test("c06 corpus card restates its source pipelines") {
    val card = IoQueries.corpusCard(spark, sfDir).head()
    assert(card.getLong(card.fieldIndex("docs")) ===
      Tables.documents(spark, sfDir).count())
    val pairs = Dedup.ngramJaccard(spark, sfDir).count()
    assert(card.getLong(card.fieldIndex("neardup_pairs")) === pairs)
    // each pair involves 2 docs; sharing makes the doc set smaller
    val nd = card.getLong(card.fieldIndex("neardup_docs"))
    assert(nd >= (if (pairs > 0) 2L else 0L) && nd <= 2 * pairs)
    val rate = card.getDouble(card.fieldIndex("dup_para_rate"))
    assert(rate >= 0.0 && rate < 1.0)
  }
}
