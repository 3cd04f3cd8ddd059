package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{AppSession, Features, PlanMemo, Reports, SparkEntry, Tables}

/** JVM side of perfbench: drives one workload through graft's public
  * entry points with a single closed-loop client thread, times it, and
  * writes `result.json` plus every distinct operation's first output
  * (parquet) for the DuckDB check that `run.py` performs afterwards.
  *
  * Usage (normally through run.py):
  *   Main --workload <app_session|corpus_build|train_model> --data <dir> --out <dir>
  *        --spec <workloads.json> --seconds <s> --trace <0|1> --model <dir>
  */
object Main {

  /** One timed operation of the closed loop. */
  final case class Op(kind: String, key: String, ms: Double, ok: Boolean, traced: Boolean)

  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val code =
      try { new Run(a, jvmStartMs).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Shutdown hooks reclaim the engine's temp artifacts; exit decisively
    // so no lingering non-daemon thread keeps the JVM alive.
    sys.exit(code)
  }

  def json(path: Path): JsonNode = mapper.readTree(path.toFile)

  def writeJson(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(toJava(value)))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class Run(a: Map[String, String], jvmStartMs: Long) {
  import Main._

  private val mainMs = System.currentTimeMillis()

  private val workload = a("workload")
  private val data = a("data")
  private val out = Paths.get(a("out"))
  private val spec = json(Paths.get(a("spec")))
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = Runtime.getRuntime.availableProcessors // local[nproc]
  private val tracer = new Tracer

  private var spark: SparkSession = _
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val opDeltas = mutable.ArrayBuffer.empty[(Op, Map[String, Double])]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanStack = mutable.Stack.empty[Int]
  private var tracing = false
  private var cacheBytesMax = 0.0
  private var bytesWritten = 0.0
  private val firstOutputs = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val sessionSql = mutable.LinkedHashMap.empty[String, String]
  private var reportTree = Map.empty[String, String]

  private def newSpark(): SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val t0 = System.currentTimeMillis()
    s.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    extra("setup.main_s") = (mainMs - jvmStartMs) / 1000.0
    extra("setup.session_s") = (t0 - mainMs) / 1000.0
    extra("setup.warmup_query_s") = (System.currentTimeMillis() - t0) / 1000.0
    s
  }

  /** Record a benchmark-side span around a call into a layer. Only the
    * traced half of a traced run keeps spans.
    */
  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = if (spanStack.isEmpty) -1 else spanStack.top
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, parent, ops.size.toString)
      spanStack.push(idx)
      try body
      finally {
        spanStack.pop()
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  def run(): Unit = {
    Files.createDirectories(out)
    if (workload == "train_model") {
      spark = newSpark()
      trainModel(Paths.get(a("model")))
      spark.stop()
      return
    }
    val w: Workload = workload match {
      case "app_session" => new SessionWorkload
      case "corpus_build" => new CorpusWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark = newSpark()
    extra("setup.spark_ready_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    w.setUp()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result = w.loop()
    result("setup_s") = setupS
    result("peak_rss_mb") = peakRssMb
    writeOutputs()
    if (traced) {
      result("per_layer") = perLayer()
      writeSpans()
    }
    writeJson(out.resolve("result.json"), result)
    spark.stop()
  }

  private trait Workload {
    def setUp(): Unit
    def loop(): mutable.LinkedHashMap[String, Any]
  }

  private def timed(kind: String, key: String)(body: => Boolean): Op = {
    val before = if (tracing) tracer.snapshot(spark) else Map.empty[String, Double]
    if (tracing) spark.sparkContext.setJobGroup(ops.size.toString, s"$kind $key")
    val t0 = System.nanoTime()
    val ok =
      try span(kind)(body)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $kind $key failed: ${e.getMessage}")
        false
      }
    val op = Op(kind, key, (System.nanoTime() - t0) / 1e6, ok, tracing)
    ops += op
    if (tracing) {
      spark.sparkContext.clearJobGroup()
      val after = tracer.snapshot(spark)
      opDeltas += op -> after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      cacheBytesMax = math.max(cacheBytesMax, spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum)
    }
    op
  }

  /** In a traced run, the k-th operation of each kind is traced when k is
    * odd, so both halves see the same mix; the run goes on until every
    * kind has operations in both halves.
    */
  private def bothHalves(kinds: Iterable[String]): Boolean =
    !traced || kinds.forall(k => ops.exists(o => o.kind == k && o.traced) &&
      ops.exists(o => o.kind == k && !o.traced))

  private def setTracing(on: Boolean, sessions: Seq[SparkSession]): Unit =
    if (traced && on != tracing) {
      if (on) tracer.attach(sessions) else tracer.detach(sessions)
      tracing = on
    }

  private def keep(key: String, df: DataFrame): Array[Row] = {
    val rows = span("spark.action")(df.collect())
    if (!firstOutputs.contains(key)) firstOutputs(key) = (df.schema, rows)
    rows
  }

  private def result(unit: String, measured: Seq[Op], throughput: Double,
      latencies: Seq[Double]) = mutable.LinkedHashMap[String, Any](
    "workload" -> workload,
    "unit" -> unit,
    "attempted" -> ops.size,
    "failed" -> ops.count(!_.ok),
    "throughput_per_s" -> throughput,
    "latencies_ms" -> latencies,
    "extra" -> extra,
    "ops" -> measured.groupBy(_.kind).map { case (k, v) =>
      k -> Map("n" -> v.size, "p50_ms" -> median(v.map(_.ms))) })

  // ------------------------------------------------------------------
  // app_session: one AppSession, a seeded script of the frontend's tabs,
  // KPI/SQL jobs, registry runs and stream drains.

  private final class SessionWorkload extends Workload {
    private val script = json(Paths.get(data, "script.json")).elements().asScala.toVector
    private val uploads = (0 until spec.get("uploads").get("files").asInt).map { i =>
      Files.readAllBytes(Paths.get(data, "uploads", s"upload_$i.csv"))
    }
    private val reportDir = out.resolve("reports")
    private var session: AppSession = _
    private var model: PipelineModel = _
    private var source = "project"

    def setUp(): Unit = {
      val t0 = System.nanoTime()
      session = new AppSession(spark, data)
      val t1 = System.nanoTime()
      model = session.loadModel(a("model"))
      val t2 = System.nanoTime()
      // Warm-up prefix, untimed: the first request of each tab type that
      // `session.warmup` names, all on the project events. Registry runs,
      // drains and reports are left out: they rotate through distinct
      // queries that pay their first run in the timed loop anyway.
      spec.get("session").get("warmup").elements().asScala.map(_.asText).foreach { op =>
        val w0 = System.nanoTime()
        request(script.find(_.get("op").asText == op).get)
        extra(s"setup.warmup.${op}_ms") = (System.nanoTime() - w0) / 1e6
      }
      extra("setup.boot_ms") = (t1 - t0) / 1e6
      extra("setup.model_load_ms") = (t2 - t1) / 1e6
      extra("setup.warmup_prefix_ms") = (System.nanoTime() - t2) / 1e6
    }

    private def request(r: JsonNode): Boolean = r.get("op").asText match {
      case "preview" =>
        val n = r.get("n").asInt
        val rows = span("sources.preview")(session.preview(n))
        val key = s"preview_n${n}_$source"
        if (!firstOutputs.contains(key))
          firstOutputs(key) = (Reports.safeProjection(session.current).schema, rows)
        rows.length == n
      case "summary" =>
        keep(s"summary_$source", session.summary()).length == 1
      case "sql" =>
        sessionSql(r.get("key").asText) = r.get("sql").asText
        keep(s"sql_${r.get("key").asText}_$source",
          span("app.sql_parse")(session.sql(r.get("sql").asText))).nonEmpty
      case "kpi" =>
        val t = r.get("table").asText
        val df = t match {
          case "payment" => session.kpiByPayment
          case "hour" => session.kpiByHour
          case _ => session.kpiHeatmap
        }
        keep(s"kpi_${t}_$source", df).nonEmpty
      case op @ ("run" | "drain") =>
        val q = r.get("query").asText
        val layer = if (op == "drain") "streaming" else "queries"
        keep(s"${op}_$q", span(s"$layer.construct")(SparkEntry.queries(q)(spark, data)))
        true
      case "report" =>
        val names = span("sources.report_write")(session.writeReports(reportDir.toString))
        reportTree = Reports.reportTree.toMap
        if (tracing) bytesWritten += dirBytes(reportDir)
        names.nonEmpty
      case "upload" =>
        val i = r.get("file").asInt
        val df = span("sources.upload")(session.uploadCsv(uploads(i)))
        source = s"upload$i"
        if (tracing) bytesWritten += uploads(i).length
        keep(s"upload_$source", df.groupBy().count()).head.getLong(0) > 0
      case "score" =>
        val t = r.get("threshold").asDouble
        val df = session.score(model, t).select("event_id", "proba1", "prediction_at_threshold")
        keep(s"score_t${t}_$source", df).nonEmpty
    }

    def loop(): mutable.LinkedHashMap[String, Any] = {
      val kinds = spec.get("session").get("block").fieldNames().asScala.toSeq
      val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
      // A fixed count of requests, `seconds` at the nominal request rate:
      // every run sends the same requests, so the window never ends on a
      // different heavy request from one run to the next.
      val count = math.round(seconds * spec.get("session").get("requests_per_second").asDouble)
      val onSource = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
      val b0 = PlanMemo.builds
      var i = 0
      while (i < count || !bothHalves(kinds)) {
        val r = script(i % script.size)
        val kind = r.get("op").asText
        val k = seen(kind)
        // `run` (q and r queries alternate) and `sql` (4 templates) rotate
        // with an even period that divides 4: shifting the parity every 4
        // requests puts each rotation entry in both halves.
        val shift = if (kind == "run" || kind == "sql") k / 4 else 0
        setTracing((k + shift) % 2 == 1, Seq(spark))
        seen(kind) += 1
        timed(kind, r.path("query").asText(""))(request(r))
        if (!tracing) onSource(if (source == "project") "project" else "upload") += 1
        i += 1
      }
      setTracing(false, Seq(spark))
      extra("PlanMemo.builds_after_warmup") = PlanMemo.builds - b0
      extra("session.requests_on_project") = onSource("project")
      extra("session.requests_on_upload") = onSource("upload")
      val measured = ops.filterNot(_.traced).toSeq
      result("request", measured, measured.size / (measured.map(_.ms).sum / 1000.0),
        measured.map(_.ms))
    }
  }

  /** The scoring model the session loads: trained once per build, in a
    * JVM of its own (`--workload train_model`), never in a measured one.
    */
  private def trainModel(dir: Path): Unit = {
    val df = Features.enrich(Tables.events(spark, data))
    val feats = Array("trip_distance", "duration_min", "pickup_hour",
      "pickup_dow", "is_weekend", "night_flag", "fare_amount")
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(feats).setOutputCol("features")
        .setHandleInvalid("keep"),
      new LogisticRegression().setLabelCol("label_tip").setMaxIter(5)))
    pipe.fit(df).write.overwrite().save(dir.toString)
  }

  // ------------------------------------------------------------------
  // corpus_build: the e-family training-data product, cold every rep.

  private final class CorpusWorkload extends Workload {
    private val chain =
      spec.get("corpus_build").get("chain").elements().asScala.map(_.asText).toVector
    private val docs = spec.get("tables").get("documents").asDouble

    /** Untimed engine warm-up, part of set-up: small queries of the
      * shapes the chain runs (aggregation, shuffled and broadcast joins, a
      * window, sort, explode over strings, parquet write and read), run
      * twice, so that the JIT has compiled Spark's planner, code
      * generator, scheduler and I/O paths before the first rep. None of
      * them touches graft's tables, memos or registry, so every rep still
      * builds every memo and artifact from cold.
      */
    def setUp(): Unit = {
      val t0 = System.nanoTime()
      val dir = out.resolve("warmup").toString
      (0 until 2).foreach { i =>
        val a = spark.range(20000).selectExpr(s"id % ${97 + i} AS k", "id AS v",
          "concat('w', cast(id % 1000 AS string), ' x y') AS t")
        val b = spark.range(2000).selectExpr(s"id % ${97 + i} AS k", "id * 2 AS w")
        Seq(
          a.groupBy("k").agg("v" -> "sum", "v" -> "max", "t" -> "count"),
          a.join(b.hint("shuffle_hash"), "k").groupBy("k").count(),
          a.join(b.hint("broadcast"), "k").selectExpr("k", "v + w AS s").orderBy("s").limit(10),
          a.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY v DESC) AS r")
            .where(s"r <= ${2 + i}"),
          a.selectExpr("explode(split(t, ' ')) AS w").groupBy("w").count().orderBy("w")
        ).foreach(_.collect())
        a.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir).where(s"k = $i").agg("v" -> "sum").collect()
      }
      extra("setup.engine_warmup_s") = (System.nanoTime() - t0) / 1e9
    }

    def loop(): mutable.LinkedHashMap[String, Any] = {
      val buildsPerRep = mutable.ArrayBuffer.empty[Long]
      val reps = mutable.ArrayBuffer.empty[Double]
      val kinds = chain.map(q => s"build.${q.take(3)}")
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || !bothHalves(kinds)) {
        // A fresh session and a fresh corpus path: no memo (keyed by
        // session) and no published artifact (keyed by corpus path and
        // content) of one rep can serve the next.
        spark.catalog.clearCache()
        val dir = freshCorpus(reps.size)
        val repSpark = spark.newSession()
        val b0 = PlanMemo.builds
        val r0 = System.nanoTime()
        chain.zipWithIndex.foreach { case (q, i) =>
          // traced runs trace alternate stages, the other half next rep
          setTracing((i + reps.size) % 2 == 1, Seq(spark, repSpark))
          timed(s"build.${q.take(3)}", q) {
            keep(q, span("queries.construct")(SparkEntry.queries(q)(repSpark, dir)))
            true
          }
        }
        setTracing(false, Seq(spark, repSpark))
        reps += (System.nanoTime() - r0) / 1e6
        buildsPerRep += PlanMemo.builds - b0
      }
      spark.catalog.clearCache()
      extra("build.reps") = reps.size
      extra("PlanMemo.builds_per_rep") = buildsPerRep
      result("doc", ops.filterNot(_.traced).toSeq, docs / (median(reps.toSeq) / 1000.0),
        reps.toSeq)
    }

    /** A new directory of hard links to the generated tables. */
    private def freshCorpus(rep: Int): String = {
      val dst = out.resolve(s"corpus_rep_$rep")
      Files.list(Paths.get(data)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).foreach { t =>
          val d = dst.resolve(t.getFileName)
          Files.createDirectories(d)
          Files.list(t).iterator().asScala.foreach(f => Files.createLink(d.resolve(f.getFileName), f))
        }
      dst.toString
    }
  }

  // ------------------------------------------------------------------
  // Results

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally w.close()
    }

  /** Each distinct operation's first output, for the DuckDB check. */
  private def writeOutputs(): Unit = {
    val dir = out.resolve("outputs")
    val keys = firstOutputs.keys.toVector
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try firstOutputs.toVector.map { case (k, (schema, rows)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toList.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(dir.resolve(k).toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    writeJson(out.resolve("outputs.json"), keys)
    writeJson(out.resolve("session_sql.json"), sessionSql)
    writeJson(out.resolve("report_tree.json"), reportTree)
    writeJson(out.resolve("oracle_sql.json"), SparkEntry.oracleSql.filter { case (k, _) =>
      keys.exists(_.endsWith(k)) || reportTree.values.exists(_ == k) })
  }

  private def writeSpans(): Unit =
    Files.write(out.resolve("spans.jsonl"), spans.map { s =>
      mapper.writeValueAsString(Map[String, Any]("name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "req" -> s.req).asJava)
    }.asJava)

  /** Per-layer metrics of the traced half. Additive counters are divided
    * by the number of traced operations (requests or chain stages).
    */
  private def perLayer(): Map[String, Double] = {
    val tops = opDeltas.map(_._1).toSeq
    val n = math.max(1, tops.size).toDouble
    def sum(k: String, of: Seq[(Op, Map[String, Double])] = opDeltas.toSeq): Double =
      of.map(_._2.getOrElse(k, 0.0)).sum
    def perOp(k: String): Double = sum(k) / n
    def p50(kind: String): Double = median(tops.filter(_.kind == kind).map(_.ms))
    def spanP50(name: String): Double =
      median(spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).toSeq)
    val m = mutable.LinkedHashMap.empty[String, Double]

    Seq("preview", "summary", "sql", "kpi", "run", "report", "upload", "score", "drain")
      .foreach(k => m(s"app.${k}_ms") = p50(k))
    m("queries.construct_ms") = spanP50("queries.construct")
    Seq("analysis", "optimization", "planning", "codegen_compile")
      .foreach(k => m(s"spark.${k}_ms") = perOp(s"spark.${k}_ms"))
    m("spark.codegen_classes") = perOp("spark.codegen_classes")
    Seq(1, 2, 3, 4, 5, 7, 8, 9)
      .foreach(i => m(s"build.e0${i}_s") = p50(s"build.e0$i") / 1000.0)
    m("PlanMemo.builds") = perOp("PlanMemo.builds")
    // wall time of the operations that ran at least one memo builder
    m("PlanMemo.build_ms") =
      opDeltas.filter(_._2.getOrElse("PlanMemo.builds", 0.0) > 0).map(_._1.ms).sum / n
    m("PlanMemo.artifact_bytes") = publishedBytes
    m("spark.cache_bytes") = cacheBytesMax
    m("spark.jobs_overlap_ms") = tracer.jobsOverlapMs / n
    m("spark.jobs_in_flight_max") = tracer.jobsInFlightMax
    m ++= functionProbes()
    m ++= tableProbes()
    m("sources.upload_ms") = spanP50("sources.upload")
    m("sources.report_write_ms") = spanP50("sources.report_write")
    m("sources.bytes_written") = bytesWritten / n
    // streaming metrics are per traced drain: the operations that ran a
    // streaming query (app_session's drain requests, e06 in the chain)
    val drains = opDeltas.filter(_._2.getOrElse("streaming.batches", 0.0) > 0).toSeq
    val nd = math.max(1, drains.size).toDouble
    Seq("batches", "trigger_ms", "queryPlanning_ms", "addBatch_ms", "walCommit_ms",
      "commitOffsets_ms", "latestOffset_ms", "getBatch_ms", "state_commit_ms")
      .foreach(k => m(s"streaming.$k") = sum(s"streaming.$k", drains) / nd)
    m("streaming.state_rows") = tracer.stateRowsMax
    m("streaming.state_mem_bytes") = tracer.stateMemMax
    m("streaming.drain_overhead_ms") =
      drains.map { case (op, d) => op.ms - d("streaming.trigger_ms") }.sum / nd
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_overhead_ms",
      "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.shuffle_fetch_wait_ms", "spark.spill_bytes").foreach(k => m(k) = perOp(k))
    val wallMs = tops.map(_.ms).sum
    m("spark.cpu_busy_ratio") =
      if (wallMs <= 0) 0.0 else sum("spark.executor_cpu_ms") / (wallMs * cpus)
    m("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
    m("spark.stage_skew_max") = tracer.stageSkewMax
    m ++= selfTimes(n)
    // per operation kind, mean traced over mean untraced latency; the
    // geometric mean over kinds. corpus_build traces odd stages in its
    // first rep and even stages in its second, so a warmer second rep
    // lowers the ratio of one half of the kinds as much as it raises the
    // other's, and the geometric mean cancels it.
    val ratios = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(t.map(_.ms).sum / t.size / (u.map(_.ms).sum / u.size))
    }
    m("trace_overhead_pct") =
      if (ratios.isEmpty) 0.0 else 100.0 * (math.exp(ratios.map(math.log).sum / ratios.size) - 1)
    m.toMap
  }

  /** Self time per layer: a span's duration minus its children's, summed
    * per layer (the span name's first component; the request spans of
    * app_session belong to `app`) and divided by the traced operations.
    */
  private def selfTimes(n: Double): Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.zipWithIndex.foreach { case (s, i) =>
      val layer = if (s.name.contains('.')) s.name.takeWhile(_ != '.') else "app"
      self(layer) += (s.end - s.start - child(i)) / 1e6
    }
    Seq("app", "build", "queries", "sources", "streaming", "spark")
      .map(l => s"self.${l}_ms" -> self(l) / n).toMap
  }

  private def publishedBytes: Double =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_published")).map(dirBytes).sum

  private val kernels = Seq(
    "shingle_fps" -> "shingle_fps(text)",
    "minhash_sigs" -> "minhash_sigs(shingle_fps(text))",
    "span_fps" -> "span_fps(text, 8)",
    "nfc_normalize" -> "nfc_normalize(text)",
    "tok_count" -> "tok_count(text)")

  /** `functions` kernels as noop queries over the workload's own documents
    * repeated 200 times (corpus_build only): ns per document over a
    * length(text) baseline, median of five.
    */
  private def functionProbes(): Map[String, Double] = {
    if (workload != "corpus_build")
      return kernels.map(k => s"functions.${k._1}_ns_per_doc" -> 0.0).toMap
    val docs = Tables.documents(spark, data).select("text")
    val big = Seq.fill(200)(docs).reduce(_ union _).repartition(cpus).cache()
    val n = big.count().toDouble
    def t(e: String): Double = median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      big.selectExpr(e).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    })
    val base = t("length(text)")
    val r = kernels.map { case (k, e) =>
      s"functions.${k}_ns_per_doc" -> math.max(0.0, t(e) - base) / n }.toMap
    big.unpersist()
    r
  }

  /** `Tables` scan and `etl` enrichment as noop queries (app_session
    * only), median of five.
    */
  private def tableProbes(): Map[String, Double] = {
    if (workload != "app_session") return Map("Tables.scan_ms" -> 0.0, "etl.enrich_ms" -> 0.0)
    def t(df: => DataFrame): Double = median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    val scan = t(Tables.events(spark, data))
    val enrich = t(Features.enrich(Tables.events(spark, data)))
    Map("Tables.scan_ms" -> scan, "etl.enrich_ms" -> math.max(0.0, enrich - scan))
  }
}
