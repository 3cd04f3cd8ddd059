package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Scale-posture operators: salted skew join correctness and the
  * bucketed co-located join (shuffle-free by layout).
  */
class ScaleOpsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  test("salted join returns exactly the unsalted join's result") {
    val fact = Tables.orders(spark, sfDir)
    val dim = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = fact.join(dim, Seq("o_custkey"), "inner")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("v"))
    val salted = SkewJoin.saltedInnerJoin(fact, dim, "o_custkey",
        factSaltSource = col("o_orderkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("v"))
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("salting spreads a hot key across nSalts partitions") {
    val s = spark
    import s.implicits._
    // one pathological key with 10k rows
    val fact = (1 to 10000).map(i => (1L, i)).toDF("k", "payload")
    val dim = Seq((1L, "hot")).toDF("k", "label")
    val joined = SkewJoin.saltedInnerJoin(fact, dim, "k",
      factSaltSource = col("payload"), nSalts = 8)
    assert(joined.count() === 10000)
    // the derived salt must actually take all 8 values
    val salts = fact.select(pmod(hash(col("payload")), lit(8)))
      .distinct().count()
    assert(salts === 8)
  }

  test("bucketed tables co-locate: equi-join plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear them or CTAS refuses
    val wh = new java.io.File(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    Seq("b_orders", "b_customer").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    Reports.writeBucketed(Tables.orders(spark, sfDir),
      "b_orders", 8, "o_custkey")
    Reports.writeBucketed(
      Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", 8, "o_custkey")
    // force a sort-merge join (broadcast would mask the layout win)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), Seq("o_custkey"))
        .filter(col("o_totalprice") > 0)
      joined.write.format("noop").mode("overwrite").save()
      val plan = joined.queryExecution.executedPlan
      val exchanges = collectWithSubqueries(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join should be shuffle-free, got:\n$plan")
      val smj = collectWithSubqueries(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, "expected a sort-merge join over buckets")
      // and it returns the same rows as the plain join
      assert(joined.count() ===
        Tables.orders(spark, sfDir).join(
          Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
          Seq("o_custkey")).filter(col("o_totalprice") > 0).count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("connected components labels a chain + triangle forest by min id") {
    val s = spark
    import s.implicits._
    // chain 1-…-6 (diameter 5) and triangle 10-11-12, listed shuffled
    val pairs = Seq((3L, 4L), (1L, 2L), (11L, 12L), (5L, 6L), (2L, 3L),
      (10L, 11L), (4L, 5L), (10L, 12L)).toDF("d1", "d2")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L)
    // driver union-find path (the sliver default)
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // distributed fixpoint path (forced) must label identically
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === want)
  }

  test("connected components iteration bound is real: low cap throws") {
    val s = spark
    import s.implicits._
    // a 12-node chain needs ~diameter rounds; cap at 2 must refuse to
    // return a half-propagated (wrong) labeling. Forced distributed:
    // the driver union-find path has no rounds to bound
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    assertThrows[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIters = 2, driverMaxEdges = 0L)
    }
    // and the default cap converges fine on the same graph
    val labels = Dedup.connectedComponents(chain, driverMaxEdges = 0L)
    assert(labels.select("lbl").distinct().collect().map(_.getLong(0))
      .toSeq === Seq(1L))
  }

  test("connected components: driver and distributed paths agree on a random forest") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    // random sparse graph: 300 nodes, 250 edges → many components of
    // varied shape (trees, cycles, isolated pairs)
    val pairs = Seq.fill(250) {
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("d1", "d2")
    val drv = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drv === dist)
  }

  test("d02 candidate volume stays ~linear: candidates/doc bounded across 10x") {
    // The d11 scale guard (round-9 verdict "next" 1): LSH band false
    // positives grow the per-document candidate count as the corpus
    // grows; if that count trends super-linear, d11's verify stage
    // inherits a quadratic term. Measured today: 0.050/doc at sf0.01
    // vs 0.051/doc at sf0.1 (testdata), 0.0022 vs 0.0028 across
    // GenData sf0.1→sf1 — flat to +26% per decade. The pin allows 2×
    // per decade before failing: a breach means the banding needs
    // refinement (wider rows-per-band at scale, the s03/s08
    // extraPlanes pattern), not that the corpus got bigger.
    def perDoc(dir: String): Double = {
      val docs = Tables.documents(spark, dir).count()
      val cands = Dedup.lshCandidates(spark, dir).count()
      cands.toDouble / docs
    }
    val small = perDoc("/root/testdata/sf0.01")
    val big = perDoc("/root/testdata/sf0.1")
    assert(big <= 2.0 * small,
      f"candidates/doc grew ${big / small}%.2fx across 10x docs " +
        "(pin: <= 2x) — re-tune the LSH banding before shipping")
  }

  test("d08 clusters are edge-consistent and keyed by min member") {
    val clusters = Dedup.neardupClusters(spark, sfDir)
      .persist()
    // cluster_id is the min doc_id of its members
    val badKey = clusters.groupBy("cluster_id")
      .agg(min("doc_id").as("lo"))
      .filter(col("cluster_id") =!= col("lo"))
    assert(badKey.count() === 0)
    // every verified near-dup pair lands in one cluster
    val lbl = clusters.select("doc_id", "cluster_id")
    val split = Dedup.jaccardPairs(spark, sfDir)
      .join(lbl.withColumnRenamed("doc_id", "d1").withColumnRenamed("cluster_id", "c1"), "d1")
      .join(lbl.withColumnRenamed("doc_id", "d2").withColumnRenamed("cluster_id", "c2"), "d2")
      .filter(col("c1") =!= col("c2"))
    assert(split.count() === 0)
    clusters.unpersist()
  }
}
