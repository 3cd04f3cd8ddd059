package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`ArrayType(FloatType)`,
  * dim 64) — the ANN surface mandated by the build brief (SURVEY.md §7.4):
  *
  *   - s01: brute-force cosine top-k — the exact baseline. The bounded
  *     query set (10 vectors) is broadcast against the candidate scan,
  *     so the "cross join" is a BroadcastNestedLoopJoin over 10 rows:
  *     one pass over the data, no shuffle of the big side. Per-query
  *     top-k is the bounded-buffer [[TopKScoreId]] aggregate, so the
  *     shuffle carries at most k pairs per query per map task — the
  *     query batch can grow without the reducer becoming a sink for
  *     every scored candidate.
  *   - s02: LSH-bucketed ANN — the scale path. 8 fixed random
  *     hyperplanes give a 256-bucket signature computed map-side as a
  *     single projection (no shuffle, no join); search joins query and
  *     candidates on bucket equality — an equi hash join, never a
  *     cartesian. Recall is tunable by plane count / multi-probe.
  *   - s03: embedding-cosine near-dup candidate ranking — within-bucket
  *     self-join (equi, a.id < b.id) ranking the most-similar pairs.
  *
  * Determinism across engines: hyperplanes are Scala-side md5-derived
  * constants embedded as 6-dp decimal literals in BOTH the Spark
  * expressions and the DuckDB oracle SQL (decimal literals parse to
  * identical doubles everywhere); dot products and norms fold the same
  * element order in both engines, and cosines are floor-rounded to 4 dp
  * ([[Exact.round4]]) before any ordering, with vec_id tie-breaks.
  */
object Similarity {

  val dim = 64
  val nPlanes = 8
  val nQueries = 10

  /** Target expected vectors-per-bucket for the SCALED bucket used by
    * the within-bucket self-join families (s03/s08): with the base 8
    * planes fixed, occupancy grows linearly with the corpus and the
    * Σ bucket² self-join is quadratic — the d14 fixed-cell cliff in
    * LSH form. [[extraPlanes]] appends refinement planes (same
    * deterministic generator, weights continuing 2^8, 2^9, …) until
    * expected occupancy falls to this target, which is LSH's native
    * recall/cost knob: more planes = finer buckets = linear work at
    * constant occupancy. Below 64·2^8 vectors no extra plane is
    * added, so every driver-scale result (golden sf0.001, oracle
    * sf0.01) is bit-identical to the fixed-8-plane spelling. The
    * oracle tracks the refinement at larger corpora via
    * [[duckScaledBucketExpr]]'s count-gated planes.
    */
  val bucketTarget = 64L

  private[graft] def extraPlanes(nVecs: Long): Int = {
    var e = 0
    while (nVecs > (bucketTarget << (nPlanes + e))) e += 1
    e
  }

  /** Deterministic pseudo-random hyperplanes: component (p, i) is an
    * md5-derived integer mapped to a 6-dp value in [-1, 1]. Fixed
    * constants — regenerated identically forever, no RNG state; the
    * generator extends past [[nPlanes]] for [[extraPlanes]]
    * refinement.
    */
  private def planeVec(p: Int): Seq[Double] =
    (0 until dim).map { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane:$p:$i".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
      ((h % 2000001L) - 1000000L) / 1e6
    }

  lazy val planes: Seq[Seq[Double]] = (0 until nPlanes).map(planeVec)

  private def sparkArr(h: Seq[Double]): String =
    "array(" + h.map(v => f"$v%.6fD").mkString(",") + ")"
  private def duckArr(h: Seq[Double]): String =
    "[" + h.map(v => f"$v%.6f").mkString(",") + "]"

  /** Spark: sequential-fold dot of the embedding with a literal plane
    * — the custom codegen [[DotProduct]] expression (bit-identical
    * fold order to the HOF spelling, ~10× faster per pair).
    */
  private def sparkPlaneDot(h: Seq[Double]): String =
    s"dot_product(embedding, ${sparkArr(h)})"
  /** DuckDB: same fold, same element order. */
  private def duckPlaneDot(h: Seq[Double]): String =
    s"""list_aggregate(list_transform(range(1, ${dim + 1}),
       |  i -> CAST(embedding[i] AS DOUBLE) * CAST((${duckArr(h)})[i] AS DOUBLE)), 'sum')""".stripMargin

  /** 8-bit LSH bucket as one map-side expression (no join, no shuffle). */
  private val sparkBucketExpr: String = planes.zipWithIndex.map {
    case (h, p) => s"(CASE WHEN ${sparkPlaneDot(h)} > 0 THEN ${1 << p} ELSE 0 END)"
  }.mkString(" + ")

  /** The scaled bucket: the base 8-plane bucket refined by
    * [[extraPlanes]] further sign bits (weights continue 2^8, 2^9, …
    * so each scaled bucket is a SUBSET of a base bucket). `extra = 0`
    * reduces to [[sparkBucketExpr]] exactly.
    */
  private def sparkScaledBucketExpr(extra: Int): String =
    if (extra == 0) sparkBucketExpr
    else (0 until nPlanes + extra).map { p =>
      val h = if (p < nPlanes) planes(p) else planeVec(p)
      s"(CASE WHEN ${sparkPlaneDot(h)} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  private val duckBucketExpr: String = planes.zipWithIndex.map {
    case (h, p) => s"(CASE WHEN ${duckPlaneDot(h)} > 0 THEN ${1 << p} ELSE 0 END)"
  }.mkString(" + ")

  /** Max refinement planes the scaled-bucket ORACLE unrolls: corpora
    * up to bucketTarget·2^(nPlanes+16) ≈ 10⁹ vectors stay covered.
    */
  private val maxExtraPlanes = 16

  /** DuckDB twin of [[sparkScaledBucketExpr]] with the plane count
    * DATA-DRIVEN: refinement plane p contributes iff the corpus count
    * exceeds bucketTarget·2^p — [[extraPlanes]]'s while-loop unrolled
    * as count-gated CASEs, so ONE static SQL string tracks the
    * engine's occupancy scaling at every scale factor (the w14
    * oracle-k lesson: s03/s08 diverged at gensf1, where the engine
    * added its 9th plane and a fixed-8-plane oracle could not).
    * Below the first threshold every gate is false and this reduces
    * to [[duckBucketExpr]] exactly, so driver-scale results are
    * unchanged.
    */
  private[graft] val duckScaledBucketExpr: String = {
    val extras = (nPlanes until nPlanes + maxExtraPlanes).map { p =>
      s"""(CASE WHEN (SELECT COUNT(*) FROM embeddings) > ${bucketTarget << p}
         |  AND ${duckPlaneDot(planeVec(p))} > 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }
    (duckBucketExpr +: extras).mkString(" + ")
  }

  /** Spark: dot of two embedding columns by name. */
  private[graft] def sparkDot(a: String, b: String): String =
    s"dot_product($a, $b)"
  private[graft] def duckDot(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, ${dim + 1}),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  private val sparkNorm: String = "sqrt(dot_product(embedding, embedding))"
  private[graft] val duckNorm: String =
    """sqrt(list_aggregate(list_transform(embedding,
      |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))""".stripMargin

  /** embeddings + norm (+ LSH bucket when asked) — map-side only. */
  private[graft] def withNorm(spark: SparkSession, dir: String,
                       bucket: Boolean = false,
                       scaledBucket: Boolean = false): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .withColumn("nrm", expr(sparkNorm))
    if (scaledBucket) {
      // the within-bucket self-join families: refine buckets to
      // constant expected occupancy so Σ bucket² stays linear (one
      // memoized parquet-metadata count decides the plane count)
      base.withColumn("bucket",
        expr(sparkScaledBucketExpr(extraPlanes(retrNVecs(spark, dir)))))
    } else if (bucket) base.withColumn("bucket", expr(sparkBucketExpr))
    else base
  }

  /** Per-group top-k of (cosine, vec_id) via the bounded-buffer
    * [[TopKScoreId]] aggregate — NOT a `row_number` window. The window
    * spelling shuffles every candidate row to its query's reducer
    * before discarding all but k; the aggregate gets partial
    * aggregation, so each map task contributes at most k pairs per
    * group to the shuffle — the 100 TB contract for arbitrarily large
    * query batches. Identical output: rank = position in the
    * (score DESC, vec_id ASC)-ordered top-k array.
    */
  private[graft] def topkPerGroup(scored: DataFrame, groupCols: Seq[String],
                           k: Int): DataFrame =
    scored.groupBy(groupCols.map(col): _*)
      .agg(expr(s"topk_score_id(cosine, vec_id, $k)").as("tk"))
      .select(groupCols.map(col) :+ posexplode(col("tk")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"),
        col("col.score").as("cosine")): _*)

  // ---------------------------------------------------------------
  /** s01 — brute-force cosine top-5 for 10 query vectors. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val cand = emb.filter(col("vec_id") >= nQueries)
    val scored = cand.crossJoin(broadcast(q))
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    topkPerGroup(scored, Seq("q_id"), 5)
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  val cosineTopKSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id < $nQueries
       |), s AS (
       |  SELECT q_id, c.vec_id,
       |    ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} AS cosine
       |  FROM n c CROSS JOIN q WHERE c.vec_id >= $nQueries
       |), r AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM s)
       |SELECT q_id, "rank", vec_id, cosine FROM r WHERE "rank" <= 5
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s06 — int8-quantized brute-force top-5: the STORAGE-scale ANN
    * path. Per-vector symmetric quantization q_i = floor(x_i/s·127
    * + 0.5) with s = max|x_i| shrinks a float32 corpus 4× (1 byte/dim
    * + one scale/vector) — at 100 TB that is the difference between an
    * in-memory and a spilled index. Cosine is computed over the
    * quantized vectors (the per-vector scales cancel in the ratio), so
    * the whole pipeline is exact integer-derived arithmetic — fully
    * deterministic, hence hash-gateable. Rank agreement with the
    * full-precision s01 is pinned in SimilaritySpec.
    */
  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("qscale", expr(
        "greatest(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30d)"))
      .withColumn("qemb", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / qscale * 127 + 0.5) AS DOUBLE))"))
      .withColumn("qnrm", sqrt(expr("dot_product(qemb, qemb)")))
      .select("vec_id", "qemb", "qnrm")
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("qemb").as("q_emb"),
      col("qnrm").as("q_nrm"))
    val cand = emb.filter(col("vec_id") >= nQueries)
    val scored = cand.crossJoin(broadcast(q))
      .withColumn("cosine", Exact.round4(
        expr("dot_product(qemb, q_emb)") / (col("qnrm") * col("q_nrm"))))
    topkPerGroup(scored, Seq("q_id"), 5)
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  val quantizedTopKSql: String = {
    val qscale =
      "greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30)"
    s"""WITH qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> floor(CAST(x AS DOUBLE) / $qscale * 127 + 0.5)) AS qemb
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, qemb,
       |    sqrt(list_aggregate(list_transform(qemb, x -> x * x), 'sum')) AS qnrm
       |  FROM qz
       |), q AS (
       |  SELECT vec_id AS q_id, qemb AS q_emb, qnrm AS q_nrm
       |  FROM n WHERE vec_id < $nQueries
       |), s AS (
       |  SELECT q_id, c.vec_id,
       |    ${Exact.round4Sql(
             """list_aggregate(list_transform(range(1, %d),
               |  i -> c.qemb[i] * q_emb[i]), 'sum') / (c.qnrm * q_nrm)"""
               .stripMargin.format(dim + 1))} AS cosine
       |  FROM n c CROSS JOIN q WHERE c.vec_id >= $nQueries
       |), r AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM s)
       |SELECT q_id, "rank", vec_id, cosine FROM r WHERE "rank" <= 5
       |ORDER BY q_id, "rank"""".stripMargin
  }

  // ---------------------------------------------------------------
  /** s02 — LSH-bucketed ANN: top-3 same-bucket candidates per query.
    * The bucket equality join replaces s01's scan of every candidate —
    * the 100 TB search path (expected bucket occupancy n/256).
    */
  def lshAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir, bucket = true)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), col("bucket"))
    val cand = emb.filter(col("vec_id") >= nQueries)
    val scored = cand.join(broadcast(q), "bucket")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    // bucket is functionally dependent on q_id (one bucket per query);
    // grouping on both carries it through without a join-back
    topkPerGroup(scored, Seq("q_id", "bucket"), 3)
      .select("q_id", "rank", "vec_id", "bucket", "cosine")
      .orderBy("q_id", "rank")
  }

  val lshAnnSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm,
       |    $duckBucketExpr AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket
       |  FROM n WHERE vec_id < $nQueries
       |), s AS (
       |  SELECT q_id, c.vec_id, c.bucket,
       |    ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} AS cosine
       |  FROM n c JOIN q ON c.bucket = q.bucket AND c.vec_id >= $nQueries
       |), r AS (
       |  SELECT q_id, vec_id, bucket, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM s)
       |SELECT q_id, "rank", vec_id, bucket, cosine FROM r WHERE "rank" <= 3
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s03 — embedding-cosine near-dup candidates: the 10 most-similar
    * within-bucket pairs. Self-equi-join on bucket with a.id < b.id —
    * candidate generation is O(Σ bucket²), never all-pairs.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // scaledBucket: the self-join is Σ bucket², so occupancy must not
    // grow with the corpus — see [[bucketTarget]]; the oracle's
    // count-gated planes scale in lockstep (duckScaledBucketExpr)
    val emb = withNorm(spark, dir, bucket = true, scaledBucket = true)
      .select("vec_id", "embedding", "nrm", "bucket")
    val a = emb.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    // sort-merge, NOT broadcast: `b` is every embedding in the corpus
    // (with its vector payload) — the bucketed self-join must meet by
    // shuffle on bucket; merge keeps the arrays out of hash builds
    val b = emb.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      .hint("merge")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("emb_a", "emb_b")) / (col("nrm_a") * col("nrm_b"))))
      .select("id_a", "id_b", "bucket", "cosine")
      .orderBy(desc("cosine"), col("id_a"), col("id_b"))
      .limit(10)
  }

  val nearDupPairsSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm,
       |    $duckScaledBucketExpr AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
       |  ${Exact.round4Sql(duckDot("a.embedding", "b.embedding") + " / (a.nrm * b.nrm)")} AS cosine
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |ORDER BY cosine DESC, id_a, id_b LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  /** s05 — multi-probe LSH ANN: each query probes its own bucket AND
    * the 8 single-bit-flip neighbor buckets (the standard recall
    * lever for sign-random-projection LSH — a near neighbor that
    * disagrees on exactly one hyperplane lands one bit away). The
    * query side explodes into 9 probe keys (bounded: 9 × queries),
    * candidates still join by bucket equality — never a cartesian.
    * Top-3 per query like s02; strictly higher recall.
    */
  def multiProbeAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir, bucket = true)
    val probeArr = array(lit(0) +: (0 until nPlanes).map(b => lit(1 << b)): _*)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"),
      explode(probeArr).as("flip"), col("bucket").as("q_bucket"))
      .withColumn("bucket",
        expr("int(q_bucket) ^ int(flip)"))
      .select("q_id", "q_emb", "q_nrm", "bucket")
    val cand = emb.filter(col("vec_id") >= nQueries)
    // a candidate matches at most one probe key per query (probe
    // buckets of one query are distinct), so no intra-query dedup
    val scored = cand.join(broadcast(q), "bucket")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    topkPerGroup(scored, Seq("q_id"), 3)
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  val multiProbeAnnSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm,
       |    $duckBucketExpr AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT n.vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
       |    xor(bucket, flip) AS bucket
       |  FROM n, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS t(flip)
       |  WHERE n.vec_id < $nQueries
       |), s AS (
       |  SELECT q_id, c.vec_id,
       |    ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} AS cosine
       |  FROM n c JOIN q ON c.bucket = q.bucket AND c.vec_id >= $nQueries
       |), r AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM s)
       |SELECT q_id, "rank", vec_id, cosine FROM r WHERE "rank" <= 3
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s04 — IVF coarse quantizer (the brief's "IVF variant"): the
    * first 8 vectors act as seed centroids; every vector is assigned
    * to its max-cosine cell (ties → lowest cell id) via a broadcast
    * cross join against the 8 centroids + a rank-1 window. Output is
    * the inverted-file profile (cell occupancy + mean assignment
    * cosine) — the index-build step whose cell lists an IVF search
    * would probe. Cosines are floor-scaled to exact ints before
    * averaging (order-independent).
    */
  def ivfCells(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val cents = emb.filter(col("vec_id") < 8).select(
      col("vec_id").as("cell"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    // rank-1 as max(struct(cos4, -cell)): lexicographic struct max =
    // highest cos4, ties to LOWEST cell — identical to the rank-1
    // window but with partial aggregation (one candidate row per
    // vector per map task in the shuffle, not all 8 assignments).
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("cos4", floor(
        expr(sparkDot("embedding", "c_emb")) / (col("nrm") * col("c_nrm"))
          * 10000 + lit(0.5)).cast("long"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos4"), (-col("cell")).as("negcell"))).as("w"))
      .select(col("vec_id"), (-col("w.negcell")).as("cell"),
        col("w.cos4").as("cos4"))
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        (floor(sum("cos4").cast("double") / count(lit(1)) + lit(0.5)) / 10000.0)
          .as("avg_cos"))
      .orderBy("cell")
  }

  val ivfCellsSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell, embedding AS c_emb, nrm AS c_nrm
       |  FROM n WHERE vec_id < 8
       |), scored AS (
       |  SELECT n.vec_id, cell,
       |    CAST(floor(${duckDot("n.embedding", "c_emb")} / (n.nrm * c_nrm)
       |      * 10000 + 0.5) AS BIGINT) AS cos4
       |  FROM n CROSS JOIN cents
       |), assigned AS (
       |  SELECT vec_id, cell, cos4 FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) = 1)
       |SELECT cell, COUNT(*) AS n_vectors,
       |  floor(CAST(SUM(cos4) AS DOUBLE) / COUNT(*) + 0.5) / 10000.0 AS avg_cos
       |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------
  /** s07 — IVF SEARCH (closes the r4 "index-build only" gap): probe
    * the `nProbe` nearest cells of s04's inverted file and rank only
    * the vectors assigned there.
    *
    * Shape at 100 TB: candidate→cell assignment is a broadcast cross
    * join against 8 centroids + a partial-aggregating arg-max (one row
    * per vector in the shuffle); the query side is bounded (queries ×
    * nProbe rows) and broadcast, so the search is a broadcast equi
    * join on cell — the scan touches every candidate once but scores
    * only same-cell pairs, and the final top-k is the bounded
    * [[TopKScoreId]] aggregate. Recall vs the exact s01 is pinned in
    * SimilaritySpec (like s06).
    */
  val nProbe = 2

  def ivfSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val cents = emb.filter(col("vec_id") < 8).select(
      col("vec_id").as("cell"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val cos4 = floor(
      expr(sparkDot("embedding", "c_emb")) / (col("nrm") * col("c_nrm"))
        * 10000 + lit(0.5)).cast("long")
    // candidate assignment — s04's arg-max recipe (ties → lowest cell);
    // embedding/nrm are constant within a vec_id group, so first() is
    // value-deterministic
    val assigned = emb.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy("vec_id")
      .agg(max(struct(col("cos4"), (-col("cell")).as("negcell"))).as("w"),
        first("embedding").as("embedding"), first("nrm").as("nrm"))
      .select(col("vec_id"), (-col("w.negcell")).as("cell"),
        col("embedding"), col("nrm"))
    // per-query probe list: nProbe best cells by the same exact-int
    // score, via the bounded top-k aggregate (8 rows per query in)
    val probes = emb.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy(col("vec_id").as("q_id"))
      .agg(expr(s"topk_score_id(CAST(cos4 AS DOUBLE), cell, $nProbe)").as("tk"),
        first("embedding").as("q_emb"), first("nrm").as("q_nrm"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        explode(col("tk")).as("probe"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("probe.id").as("cell"))
    // a candidate lives in exactly one cell → no cross-probe dedup
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    topkPerGroup(scored, Seq("q_id"), 3)
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  val ivfSearchSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell, embedding AS c_emb, nrm AS c_nrm
       |  FROM n WHERE vec_id < 8
       |), cscore AS (
       |  SELECT n.vec_id, cell,
       |    CAST(floor(${duckDot("n.embedding", "c_emb")} / (n.nrm * c_nrm)
       |      * 10000 + 0.5) AS BIGINT) AS cos4
       |  FROM n CROSS JOIN cents
       |), assigned AS (
       |  SELECT vec_id, cell FROM cscore WHERE vec_id >= $nQueries
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cell FROM cscore WHERE vec_id < $nQueries
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) <= $nProbe
       |), s AS (
       |  SELECT p.q_id, a.vec_id,
       |    ${Exact.round4Sql(duckDot("c.embedding", "q.embedding") + " / (c.nrm * q.nrm)")} AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |                  JOIN n c ON c.vec_id = a.vec_id
       |                  JOIN n q ON q.vec_id = p.q_id
       |), r AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM s)
       |SELECT q_id, "rank", vec_id, cosine FROM r WHERE "rank" <= 3
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s08 — kNN JOIN (k = 1): every vector's nearest neighbor within
    * its LSH bucket — the semantic-dedup / retrieval-eval primitive
    * Spark has no native operator for. Candidate generation is the
    * bucket equi self-join (O(Σ bucket²), never all-pairs); the
    * arg-max per vector runs through the bounded [[TopKScoreId]]
    * aggregate, so the shuffle carries one candidate per vector per
    * map task. Vectors alone in their bucket produce no row
    * (identical semantics in the oracle); ties break to the lowest
    * neighbor id via the aggregate's (score desc, id asc) order.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    // scaledBucket: see nearDupPairs — constant expected occupancy
    // keeps the bucket self-join linear in the corpus
    val emb = withNorm(spark, dir, bucket = true, scaledBucket = true)
      .select("vec_id", "embedding", "nrm", "bucket")
    val a = emb.select(col("bucket"), col("vec_id"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    // sort-merge: corpus-scale self-join on bucket — see nearDupPairs
    val b = emb.select(col("bucket"), col("vec_id").as("nn_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      .hint("merge")
    a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("emb_a", "emb_b")) / (col("nrm_a") * col("nrm_b"))))
      .groupBy("vec_id")
      .agg(expr("topk_score_id(cosine, nn_id, 1)").as("tk"))
      .select(col("vec_id"),
        col("tk")(0)("id").as("nn_id"),
        col("tk")(0)("score").as("cosine"))
      .orderBy("vec_id")
  }

  val knnJoinSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm,
       |    $duckScaledBucketExpr AS bucket
       |  FROM embeddings
       |), s AS (
       |  SELECT a.vec_id, b.vec_id AS nn_id,
       |    ${Exact.round4Sql(duckDot("a.embedding", "b.embedding") + " / (a.nrm * b.nrm)")} AS cosine
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
       |SELECT vec_id, nn_id, cosine FROM s
       |QUALIFY row_number() OVER (PARTITION BY vec_id
       |                           ORDER BY cosine DESC, nn_id) = 1
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // ---------------------------------------------------------------
  /** s12 — TWO-STAGE COARSE→EXACT RE-RANK (the retrieve-then-rerank
    * shape every production vector search runs; the coarse scorer
    * here is a PREFIX inner product — the Matryoshka-representation
    * trick of scoring on the first [[prefixDim]] (= 32 of 64) dimensions, 2× less
    * arithmetic and memory traffic per candidate):
    *
    *   stage 1: score every candidate with the 32-dim prefix inner
    *     product, keep a [[shortlistK]]-deep shortlist per query via
    *     the bounded [[TopKScoreId]] aggregate (shuffle ≤ 20 rows per
    *     query per map task — never the full scored stream);
    *   stage 2: re-score ONLY the shortlist with the full-precision
    *     64-dim cosine and keep the final top-5.
    *
    * At 100 TB the expensive full-dim arithmetic touches 20 rows per
    * query instead of the whole corpus; the shortlist join back to
    * the embedding table is an equi join on vec_id. Recall vs the
    * exact s01 is pinned in SimilaritySpec like s06/s07.
    */
  val prefixDim = 32
  val shortlistK = 50

  def coarseRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val cand = emb.filter(col("vec_id") >= nQueries)
    // stage 1: prefix inner product (dot_product folds the same
    // element order as the oracle's range fold)
    val coarse = cand.crossJoin(broadcast(q))
      .withColumn("cosine", Exact.round4(expr(
        s"dot_product(slice(embedding, 1, $prefixDim), slice(q_emb, 1, $prefixDim))")))
    val shortlist = topkPerGroup(coarse, Seq("q_id"), shortlistK)
      .select(col("q_id"), col("vec_id"))
    // stage 2: full-dim exact cosine over the shortlist only
    // broadcast the SHORTLIST (bounded: queries × shortlistK rows),
    // not `cand` — the static planner was building the whole
    // embedding corpus as the broadcast side of this join
    val rescored = broadcast(shortlist)
      .join(cand.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(q), "q_id")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    topkPerGroup(rescored, Seq("q_id"), 5)
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  private def duckPrefixDot(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, ${prefixDim + 1}),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')""".stripMargin

  val coarseRerankSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id < $nQueries
       |), coarse AS (
       |  SELECT q_id, c.vec_id,
       |    ${Exact.round4Sql(duckPrefixDot("c.embedding", "q_emb"))} AS ip
       |  FROM n c CROSS JOIN q WHERE c.vec_id >= $nQueries
       |), sl AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) AS rn
       |    FROM coarse)
       |  WHERE rn <= $shortlistK
       |), rescored AS (
       |  SELECT q_id, c.vec_id,
       |    ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} AS cosine
       |  FROM sl JOIN n c USING (vec_id) JOIN q USING (q_id)
       |), r AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS "rank"
       |  FROM rescored)
       |SELECT q_id, "rank", vec_id, cosine FROM r WHERE "rank" <= 5
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s13 — RADIUS (threshold) SEARCH: every candidate within cosine
    * ≥ [[radiusTheta]] of each query — the range-query API that
    * complements top-k (dedup wants "everything above a similarity
    * bar", not a fixed k). Unlike top-k there is NO per-group
    * aggregate at all: candidates are scored and filtered map-side
    * against the broadcast query batch, so the only shuffle is the
    * presentation sort over the (selectivity-bounded) survivors. At
    * 100 TB the result size is governed by θ, and the scan stays one
    * pass regardless of how many rows pass.
    */
  val radiusTheta = 0.3

  def radiusSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val cand = emb.filter(col("vec_id") >= nQueries)
    cand.crossJoin(broadcast(q))
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
      .filter(col("cosine") >= radiusTheta)
      .select("q_id", "vec_id", "cosine")
      .orderBy(col("q_id"), desc("cosine"), col("vec_id"))
  }

  val radiusSearchSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM n WHERE vec_id < $nQueries
       |)
       |SELECT q_id, c.vec_id,
       |  ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} AS cosine
       |FROM n c CROSS JOIN q
       |WHERE c.vec_id >= $nQueries
       |  AND ${Exact.round4Sql(duckDot("c.embedding", "q_emb") + " / (c.nrm * q_nrm)")} >= $radiusTheta
       |ORDER BY q_id, cosine DESC, vec_id""".stripMargin

  // ---------------------------------------------------------------
  /** s14 — RETRIEVAL END-TO-END (round-15 verdict "next" 5): the
    * whole retrieval pipeline as ONE gated statement — p04's
    * overlapping chunks, an embed join, IVF cell-probed candidate
    * generation (s07's recipe), and the coarse-prefix → exact-cosine
    * re-rank (s12's recipe), top-5 CHUNKS per query:
    *
    *   1. EMBED JOIN — each chunk keys into the embedding table via
    *      the closed-form multiplicative hash over its chunk_key
    *      (portable arithmetic, any system can recompute the
    *      placement; stands in for "the chunk was embedded" with real
    *      vector data while exercising the real docs-scale ⋈
    *      vecs-scale equi join);
    *   2. IVF — every embedding is assigned its arg-max cell ONCE
    *      (vecs-scale, s04's exact-int recipe), each query probes its
    *      [[nProbe]] best cells; candidates are chunks whose vector
    *      lives in a probed cell — NEVER query × all-chunks
    *      (SimilaritySpec pins candidate volume = Σ probed-cell
    *      chunk occupancy, strictly under the all-pairs product);
    *   3. RE-RANK — [[prefixDim]]-dim coarse inner product shortlists
    *      [[retrShortlistK]] chunks per query through the bounded
    *      [[TopKScoreId]] aggregate (≤ K rows per query per map
    *      task), then the full 64-dim cosine re-scores the shortlist
    *      only.
    *
    * Everything bounded rides broadcast (⌊√N⌋ centroids — the FAISS
    * sizing, see [[retrCellsFor]]; queries × ⌈√cells⌉ probes; queries
    * × K shortlist); everything corpus-scale streams (the chunk frame
    * twice — candidate pass + shortlist rejoin — and the embedding
    * table). doc_id re-derives from chunk_key by integer division, so
    * the shortlist carries one long per hit. s15 gates the recall
    * this cell/probe sizing actually buys against the exact top-5.
    */
  val retrShortlistK = 20

  /** FAISS-convention IVF sizing (round-16 verdict "next" 4): cells ≈
    * ⌊√N⌋ (min 8 — the fixture floor), probes ≈ ⌈√cells⌉ (min 2), so
    * candidate volume per query ≈ N/cells·probes ≈ N/√cells stays
    * SUBLINEAR as the corpus grows, and the centroid broadcast stays
    * bounded (√N × dim floats — ~360 KB at 2M vectors). The oracle
    * computes the identical sizes from COUNT(*), so the gate holds at
    * every scale factor without a per-SF constant.
    */
  private[graft] def retrCellsFor(nVecs: Long): Int =
    math.max(8, math.floor(math.sqrt(nVecs.toDouble)).toInt)
  private[graft] def retrProbeFor(cells: Int): Int =
    math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** The embeddings row count — one memo for every consumer: the
    * retrieval sizes here, the scaled-bucket plane count, d14's
    * cluster count and w14's base/stream split.
    */
  private[graft] def retrNVecs(spark: SparkSession, dir: String): Long =
    PlanMemo.cachedValue(spark, dir, "similarity.nVecs")(
      Tables.embeddings(spark, dir).count())

  /** Every vector's arg-max IVF cell, ONCE (vecs-scale; s04's
    * exact-int recipe) — chunks inherit cells through the embed join.
    * Shared by [[retrievalE2e]] and the SimilaritySpec candidate-
    * volume invariant.
    */
  private[graft] def retrAssigned(spark: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(spark, dir)
    val nCells = retrCellsFor(retrNVecs(spark, dir))
    val cents = emb.filter(col("vec_id") < nCells).select(
      col("vec_id").as("cell"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val cos4 = floor(
      expr(sparkDot("embedding", "c_emb")) / (col("nrm") * col("c_nrm"))
        * 10000 + lit(0.5)).cast("long")
    emb.crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy("vec_id")
      .agg(max(struct(col("cos4"), (-col("cell")).as("negcell"))).as("w"),
        first("embedding").as("embedding"), first("nrm").as("nrm"))
      .select(col("vec_id"), (-col("w.negcell")).as("cell"),
        col("embedding"), col("nrm"))
  }

  /** Each query's [[nProbe]] best cells (bounded: queries × nProbe
    * rows) — shared by [[retrievalE2e]] and SimilaritySpec.
    */
  private[graft] def retrProbes(spark: SparkSession, dir: String): DataFrame =
    retrProbesAt(spark, dir,
      retrProbeFor(retrCellsFor(retrNVecs(spark, dir))))

  /** The probes frame at an EXPLICIT probe count — the recall lever
    * (round-18): nprobe is the dial every IVF deployment turns to buy
    * recall with candidate volume; [[retrievalRecallHi]] gates the
    * high-recall setting, Probe's `retrcurve` banks the curve.
    */
  private[graft] def retrProbesAt(
      spark: SparkSession, dir: String, nPr: Int): DataFrame = {
    val emb = withNorm(spark, dir)
    val nCells = retrCellsFor(retrNVecs(spark, dir))
    val cents = emb.filter(col("vec_id") < nCells).select(
      col("vec_id").as("cell"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val cos4 = floor(
      expr(sparkDot("embedding", "c_emb")) / (col("nrm") * col("c_nrm"))
        * 10000 + lit(0.5)).cast("long")
    emb.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy(col("vec_id").as("q_id"))
      .agg(expr(s"topk_score_id(CAST(cos4 AS DOUBLE), cell, $nPr)").as("tk"),
        first("embedding").as("q_emb"), first("nrm").as("q_nrm"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        explode(col("tk")).as("probe"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("probe.id").as("cell"))
  }

  /** The embed join: chunk rows keyed into the embedding table. */
  private[graft] def retrChunks(spark: SparkSession, dir: String): DataFrame = {
    val nVecs = retrNVecs(spark, dir)
    Packing.chunkFrame(spark, dir)
      .select(col("doc_id"), col("chunk_key"),
        expr(chunkVecExpr(nVecs)).as("vec_id"))
  }

  /** The IVF retrieval composition over an ARBITRARY chunk relation
    * (`key`, vec_id): probed-cell candidates, coarse prefix shortlist,
    * exact re-rank, top-5 per query. s14 feeds the RAG chunk frame
    * (key = chunk_key); s16 feeds the PUBLISHED training shards' chunk
    * set (key = chunk_id) — one spelling, like the oracle's
    * [[ivfRankCtesSql]].
    */
  private[graft] def retrievalOverChunks(spark: SparkSession, dir: String,
      chunks: DataFrame, key: String): DataFrame =
    retrievalOverChunksAt(spark, dir, chunks, key,
      retrProbeFor(retrCellsFor(retrNVecs(spark, dir))), retrShortlistK)

  /** [[retrievalOverChunks]] at EXPLICIT (nprobe, shortlist K) — the
    * two recall levers. Identical plan shape at any setting: probes
    * stay queries × nPr (bounded), the shortlist stays queries × K.
    */
  private[graft] def retrievalOverChunksAt(spark: SparkSession, dir: String,
      chunks: DataFrame, key: String, nPr: Int, shortK: Int): DataFrame = {
    val emb = withNorm(spark, dir)
    val assigned = retrAssigned(spark, dir)
    val probes = retrProbesAt(spark, dir, nPr)
    val cand = chunks.join(assigned.hint("shuffle_hash"), "vec_id")
    // "coarse", not "cosine": this is the UNNORMALIZED prefix inner
    // product (no norm division) — same name as the oracle CTE and
    // the s12 recipe, so nobody downstream mistakes it for a cosine
    val coarse = cand.join(broadcast(probes), "cell")
      .withColumn("coarse", Exact.round4(expr(
        s"dot_product(slice(embedding, 1, $prefixDim), slice(q_emb, 1, $prefixDim))")))
    val shortlist = coarse.groupBy("q_id")
      .agg(expr(s"topk_score_id(coarse, $key, $shortK)").as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as(key))
    // shortlist rejoin: chunk frame streams against the broadcast
    // shortlist, then the tiny survivor set broadcasts against the
    // embedding scan — no corpus-scale shuffle in stage 2
    val hits = chunks.join(broadcast(shortlist), key)
      .select("q_id", key, "vec_id")
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val rescored = emb.select(col("vec_id"), col("embedding"), col("nrm"))
      .join(broadcast(hits), "vec_id")
      .join(broadcast(q), "q_id")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
    rescored.groupBy("q_id")
      .agg(expr(s"topk_score_id(cosine, $key, 5)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as(key),
        col("col.score").as("cosine"))
      .orderBy("q_id", "rank")
  }

  def retrievalE2e(spark: SparkSession, dir: String): DataFrame =
    retrievalOverChunks(spark, dir, retrChunks(spark, dir), "chunk_key")
      .select(col("q_id"), col("rank"), col("chunk_key"),
        expr(s"CAST(chunk_key DIV ${Packing.maxChunksPerDoc} AS BIGINT)")
          .as("doc_id"),
        col("cosine"))
      .orderBy("q_id", "rank")

  /** The chunk→vector placement (closed-form multiplicative hash —
    * the p03 discipline: portable arithmetic, no engine hash).
    */
  private def chunkVecExprOn(key: String, nVecs: Long): String =
    s"(($key % 2147483647) * 1299709 + 104729) % 2147483647 % $nVecs"
  private def chunkVecExpr(nVecs: Long): String =
    chunkVecExprOn("chunk_key", nVecs)

  /** The shared DuckDB CTE chain of the retrieval composition (chunks
    * → embed join → IVF sizing/assign/probe → coarse shortlist →
    * exact re-rank to `r`) — s14 selects its top-5, s15 additionally
    * recomputes the exact top-5 and intersects.
    */
  /** The IVF + re-rank CTE block over a caller-provided `cvv`
    * (`$key`, vec_id) chunk relation — parameterized by the chunk key
    * column so s14 (RAG `chunk_key`) and s16 (published `chunk_id`)
    * share one spelling, exactly like the engine side
    * ([[retrievalOverChunks]]).
    */
  /** The key-independent IVF front half (norms, √N sizing, centroid
    * scores, arg-max assignment, per-query probe list) — shared by
    * the coarse-rerank tail (s14/s15/s16) and the flat tail (s17).
    */
  private def ivfHeaderCtesSql(
      nprobeSql: String = "(SELECT nprobe FROM sz)"): String =
    s"""nv AS MATERIALIZED (
       |  SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings
       |), sz AS (
       |  SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS ncells,
       |    GREATEST(2, CAST(ceil(sqrt(GREATEST(8,
       |      CAST(floor(sqrt(COUNT(*))) AS BIGINT)))) AS BIGINT)) AS nprobe
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell, embedding AS c_emb, nrm AS c_nrm
       |  FROM nv WHERE vec_id < (SELECT ncells FROM sz)
       |), cscore AS MATERIALIZED (
       |  SELECT nv.vec_id, cell,
       |    CAST(floor(${duckDot("nv.embedding", "c_emb")} / (nv.nrm * c_nrm)
       |      * 10000 + 0.5) AS BIGINT) AS cos4
       |  FROM nv CROSS JOIN cents
       |), assigned AS MATERIALIZED (
       |  SELECT vec_id, cell FROM cscore
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cell FROM cscore WHERE vec_id < $nQueries
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell)
       |    <= $nprobeSql
       |)""".stripMargin

  /** IVF-FLAT ranking tail (s17): full-dim exact cosine on every
    * probed-cell candidate, ranked directly — no coarse stage, so the
    * only recall loss is cell misses and nprobe is the whole lever.
    * Probes at the s17 operating point: min(cells, 2·nprobe) — the
    * SQL twin of [[retrProbeHiFor]].
    */
  private def ivfFlatCtesSql(key: String): String =
    s"""${ivfHeaderCtesSql(
          "(SELECT LEAST(ncells, 2 * nprobe) FROM sz)")}, rf AS (
       |  SELECT p.q_id, cvv.$key,
       |    ${Exact.round4Sql(
              duckDot("c.embedding", "q.embedding") + " / (c.nrm * q.nrm)")}
       |      AS cosine
       |  FROM cvv JOIN assigned a USING (vec_id)
       |           JOIN probes p ON a.cell = p.cell
       |           JOIN nv c ON c.vec_id = cvv.vec_id
       |           JOIN nv q ON q.vec_id = p.q_id
       |), r AS (
       |  SELECT q_id, $key, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY cosine DESC, $key) AS "rank"
       |  FROM rf)""".stripMargin

  private def ivfRankCtesSql(key: String): String = {
    val prefDot = duckPrefixDot("c.embedding", "q.embedding")
    s"""${ivfHeaderCtesSql()}, coarse AS (
       |  SELECT p.q_id, cvv.$key,
       |    ${Exact.round4Sql(prefDot)} AS coarse
       |  FROM cvv JOIN assigned a USING (vec_id)
       |           JOIN probes p ON a.cell = p.cell
       |           JOIN nv c ON c.vec_id = cvv.vec_id
       |           JOIN nv q ON q.vec_id = p.q_id
       |  QUALIFY row_number() OVER (PARTITION BY p.q_id
       |    ORDER BY ${Exact.round4Sql(prefDot)} DESC, cvv.$key)
       |    <= $retrShortlistK
       |), re AS (
       |  SELECT co.q_id, co.$key,
       |    ${Exact.round4Sql(
                duckDot("c.embedding", "q.embedding") + " / (c.nrm * q.nrm)")}
       |      AS cosine
       |  FROM coarse co
       |    JOIN cvv ON cvv.$key = co.$key
       |    JOIN nv c ON c.vec_id = cvv.vec_id
       |    JOIN nv q ON q.vec_id = co.q_id
       |), r AS (
       |  SELECT q_id, $key, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY cosine DESC, $key) AS "rank"
       |  FROM re)""".stripMargin
  }

  /** The RAG chunk CTEs (t → st → cvv) shared by every chunk_key
    * retrieval oracle.
    */
  private def ragChunkCtesSql: String = {
    val n = "GREATEST(CAST(n_tok AS INT), 1)"
    s"""t AS (
       |  SELECT doc_id, ${Packing.duckNTok} AS n_tok FROM documents
       |), st AS (
       |  SELECT doc_id,
       |    unnest(range(0,
       |      CASE WHEN $n <= ${Packing.ragChunkTokens} THEN 1
       |      ELSE CAST(ceil(($n - ${Packing.ragChunkTokens})
       |        / CAST(${Packing.ragChunkStride} AS DOUBLE)) AS INT) + 1
       |      END)) AS idx
       |  FROM t
       |), cvv AS MATERIALIZED (
       |  SELECT doc_id, doc_id * ${Packing.maxChunksPerDoc} + idx AS chunk_key,
       |    (((doc_id * ${Packing.maxChunksPerDoc} + idx) % 2147483647)
       |      * 1299709 + 104729) % 2147483647
       |      % (SELECT COUNT(*) FROM embeddings) AS vec_id
       |  FROM st
       |)"""
  }

  private def retrievalCtesSql: String =
    s"""$ragChunkCtesSql, ${ivfRankCtesSql("chunk_key")}"""

  private def retrievalFlatCtesSql: String =
    s"""$ragChunkCtesSql, ${ivfFlatCtesSql("chunk_key")}"""

  val retrievalE2eSql: String =
    s"""WITH $retrievalCtesSql
       |SELECT q_id, "rank", chunk_key,
       |  CAST(chunk_key // ${Packing.maxChunksPerDoc} AS BIGINT) AS doc_id,
       |  cosine
       |FROM r WHERE "rank" <= 5
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** s15 — RETRIEVAL RECALL vs EXACT (round-16 verdict "next" 4): the
    * measurable tradeoff the √N IVF sizing buys. Per query, the EXACT
    * full-dim top-5 over ALL chunks (brute force at chunk grain —
    * corpus chunk stream ⋈ embedding table, the bounded query set
    * broadcast, TopKScoreId per query: the s01 baseline shape) is
    * intersected with s14's IVF top-5; the gated frame carries hit
    * count and recall per query. Hash-gated — the DuckDB oracle
    * recomputes BOTH retrievals, so the recall VALUES are pinned
    * cross-engine at every scale factor, not banded constant-TRUE;
    * the floor itself is pinned in SimilaritySpec and the per-SF
    * recalls are banked in SCALE.md as the cells grow with N.
    *
    * Scale posture: the exact side is one linear pass (chunks ⋈ vecs
    * shuffle_hash, × |queries| broadcast, map-side bounded top-k);
    * the IVF side is s14's plan; the intersection joins two
    * (queries × 5)-row frames — broadcast by construction.
    */
  def retrievalRecall(spark: SparkSession, dir: String): DataFrame =
    retrievalRecallAt(spark, dir,
      retrProbeFor(retrCellsFor(retrNVecs(spark, dir))), retrShortlistK)

  /** The recall gate at EXPLICIT (nprobe, shortlist K) — shared by
    * s15 (the default operating point) and Probe's `retrcurve` sweep.
    */
  private[graft] def retrievalRecallAt(
      spark: SparkSession, dir: String, nPr: Int, shortK: Int): DataFrame =
    recallAgainstExact(spark, dir,
      retrievalOverChunksAt(spark, dir, retrChunks(spark, dir),
        "chunk_key", nPr, shortK))

  /** IVF-FLAT top-5 over probed cells (round-18 "next" 3 — the ≥0.9
    * operating point): full-dim exact cosine on every probed-cell
    * candidate, top-5 per query directly. The retrcurve measurement
    * showed s14's recall ceiling is the [[prefixDim]]-dim coarse
    * shortlist, NOT cell misses (probing ALL cells at K=20 left
    * recall at 0.68–0.76; K=160 at full probing reached 0.92–0.98) —
    * so the high-recall path scores candidates at full dimension,
    * the FAISS IVFFlat shape, where the only loss is cell misses and
    * nprobe is the whole lever. Cost vs s14: ~2× flops on the
    * candidate pass (64-dim vs 32-dim dots), no shortlist rejoin
    * stage; candidate volume is IDENTICAL (same probes frame — the
    * SimilaritySpec occupancy invariant pins it on this path too).
    */
  private[graft] def retrievalFlatTop5(spark: SparkSession, dir: String,
      chunks: DataFrame, key: String, nPr: Int): DataFrame = {
    val assigned = retrAssigned(spark, dir)
    val probes = retrProbesAt(spark, dir, nPr)
    chunks.join(assigned.hint("shuffle_hash"), "vec_id")
      .join(broadcast(probes), "cell")
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
      .groupBy("q_id")
      .agg(expr(s"topk_score_id(cosine, $key, 5)").as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as(key))
  }

  /** s17 — HIGH-RECALL RETRIEVAL GATE: [[retrievalFlatTop5]] at
    * [[retrProbeHiFor]] = min(cells, 2·⌈√cells⌉) probes, intersected
    * with the exact top-5 exactly like s15 — hash-gated, recall
    * VALUES pinned cross-engine. Measured (retrcurve): flat at 1×
    * √cells probes is 0.90 at sf0.01 and 1.00 at sf0.1+; the 2×
    * point (0.94 / 1.00) buys margin over the ≥0.9 floor
    * SimilaritySpec asserts, at 2× the (still N/√cells-sublinear)
    * candidate volume. SCALE.md banks the full curve (probes sweep ×
    * shortlist sweep × flat) that picked this point.
    */
  def retrievalRecallHi(spark: SparkSession, dir: String): DataFrame = {
    val cells = retrCellsFor(retrNVecs(spark, dir))
    recallAgainstExact(spark, dir,
      retrievalFlatTop5(spark, dir, retrChunks(spark, dir), "chunk_key",
        retrProbeHiFor(cells)))
  }

  /** The s17 operating point: twice the FAISS-default probe count,
    * capped at the cell count.
    */
  private[graft] def retrProbeHiFor(cells: Int): Int =
    math.min(cells, 2 * retrProbeFor(cells))

  /** Per-query recall of an arbitrary (q_id, chunk_key) retrieval
    * against the exact full-dim top-5 — s15/s17's shared back half.
    */
  private[graft] def recallAgainstExact(
      spark: SparkSession, dir: String, ivfTop: DataFrame): DataFrame = {
    val ivf = ivfTop.select(col("q_id"), col("chunk_key"),
      lit(1).as("hit"))
    val emb = withNorm(spark, dir)
    val chunks = retrChunks(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val exact = chunks.join(emb.hint("shuffle_hash"), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cosine", Exact.round4(
        expr(sparkDot("embedding", "q_emb")) / (col("nrm") * col("q_nrm"))))
      .groupBy("q_id")
      .agg(expr("topk_score_id(cosine, chunk_key, 5)").as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as("chunk_key"))
    exact.join(broadcast(ivf), Seq("q_id", "chunk_key"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        Exact.round4(col("n_hit").cast("double") / col("n_exact"))
          .as("recall"))
      .orderBy("q_id")
  }

  val retrievalRecallSql: String = recallOracleSql(retrievalCtesSql)

  /** s17's oracle — the identical recall tail over the IVF-FLAT
    * ranking CTEs.
    */
  val retrievalRecallHiSql: String = recallOracleSql(retrievalFlatCtesSql)

  /** The shared recall-oracle spelling: intersect a ranked retrieval
    * (`r`) with the recomputed exact top-5 (s15/s17's back half).
    */
  private def recallOracleSql(ctes: String): String =
    s"""WITH $ctes, ivf AS (
       |  SELECT q_id, chunk_key FROM r WHERE "rank" <= 5
       |), ex AS (
       |  SELECT q.vec_id AS q_id, cvv.chunk_key,
       |    ${Exact.round4Sql(
              duckDot("c.embedding", "q.embedding") + " / (c.nrm * q.nrm)")}
       |      AS cosine
       |  FROM cvv
       |    JOIN nv c ON c.vec_id = cvv.vec_id
       |    CROSS JOIN (SELECT * FROM nv WHERE vec_id < $nQueries) q
       |), etop AS (
       |  SELECT q_id, chunk_key FROM ex
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |                             ORDER BY cosine DESC, chunk_key) <= 5
       |)
       |SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN i.chunk_key IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  ${Exact.round4Sql(
            "CAST(SUM(CASE WHEN i.chunk_key IS NOT NULL THEN 1 ELSE 0 END) " +
              "AS DOUBLE) / COUNT(*)")} AS recall
       |FROM etop e LEFT JOIN ivf i
       |  ON e.q_id = i.q_id AND e.chunk_key = i.chunk_key
       |GROUP BY e.q_id
       |ORDER BY e.q_id""".stripMargin

  // ---------------------------------------------------------------
  /** s16 — RETRIEVAL OVER THE PUBLISHED SHARDS (round-16 verdict
    * "next" 6): the loop between the training ARTIFACT and the
    * serving path. The retrieval corpus is not a recomputed chunk
    * plan but the chunks a trainer actually mounts: e05's published
    * `training_shards` parquet, partition-pruned to the e07 mount
    * lang (lexicographically first), each chunk placed into the
    * embedding table by the same closed-form hash over its chunk_id.
    * The IVF composition is s14's, verbatim ([[retrievalOverChunks]]).
    *
    * Gates: the DuckDB oracle recomputes the consumed chunk set from
    * RAW documents (the e05 chain) and runs the identical IVF — so
    * the hash compare proves retrieval over the DISK artifact equals
    * retrieval over ground truth; SimilaritySpec additionally pins
    * s16-over-artifact ≡ s16-over-plan (the in-session
    * [[Pipeline.shardContents]] recomputation) row-for-row.
    */
  def retrievalArtifact(spark: SparkSession, dir: String): DataFrame = {
    val (_, manifest) = Pipeline.shardArtifacts(spark, dir)
    val mount = manifest.agg(min("lang").as("lang")).first().getString(0)
    retrievalOverChunks(spark, dir,
      artifactChunks(spark, dir, mount), "chunk_id")
  }

  /** The mounted lang's chunk set off the PUBLISHED artifact, placed
    * into the embedding table ([[chunkVecExprOn]]).
    */
  private[graft] def artifactChunks(
      spark: SparkSession, dir: String, mount: String): DataFrame = {
    val nVecs = retrNVecs(spark, dir)
    Pipeline.shardArtifacts(spark, dir)._1
      .filter(col("lang") === lit(mount))
      .select(col("chunk_id"),
        expr(chunkVecExprOn("chunk_id", nVecs)).as("vec_id"))
  }

  val retrievalArtifactSql: String =
    s"""WITH RECURSIVE ${Pipeline.shardChunkCtesSql},
       |mount AS (SELECT MIN(lang) AS lang FROM chunk),
       |cvv AS MATERIALIZED (
       |  SELECT c.chunk_id,
       |    ((c.chunk_id % 2147483647) * 1299709 + 104729) % 2147483647
       |      % (SELECT COUNT(*) FROM embeddings) AS vec_id
       |  FROM chunk c JOIN mount m ON c.lang = m.lang
       |), ${ivfRankCtesSql("chunk_id")}
       |SELECT q_id, "rank", chunk_id, cosine
       |FROM r WHERE "rank" <= 5
       |ORDER BY q_id, "rank"""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s14_retrieval_e2e" -> retrievalE2e _,
    "s16_retrieval_artifact" -> retrievalArtifact _,
    "s15_retrieval_recall" -> retrievalRecall _,
    "s17_retrieval_recall_hi" -> retrievalRecallHi _,
    "s13_radius_search" -> radiusSearch _,
    "s12_coarse_rerank" -> coarseRerank _,
    "s04_ivf_cells" -> ivfCells _,
    "s07_ivf_search" -> ivfSearch _,
    "s08_knn_join" -> knnJoin _,
    "s05_multiprobe_ann" -> multiProbeAnn _,
    "s06_quantized_topk" -> quantizedTopK _,
    "s01_cosine_topk" -> cosineTopK _,
    "s02_lsh_ann" -> lshAnn _,
    "s03_neardup_pairs" -> nearDupPairs _
  )

  def oracles: Map[String, String] = Map(
    "s14_retrieval_e2e" -> retrievalE2eSql,
    "s16_retrieval_artifact" -> retrievalArtifactSql,
    "s15_retrieval_recall" -> retrievalRecallSql,
    "s17_retrieval_recall_hi" -> retrievalRecallHiSql,
    "s13_radius_search" -> radiusSearchSql,
    "s12_coarse_rerank" -> coarseRerankSql,
    "s04_ivf_cells" -> ivfCellsSql,
    "s07_ivf_search" -> ivfSearchSql,
    "s08_knn_join" -> knnJoinSql,
    "s05_multiprobe_ann" -> multiProbeAnnSql,
    "s06_quantized_topk" -> quantizedTopKSql,
    "s01_cosine_topk" -> cosineTopKSql,
    "s02_lsh_ann" -> lshAnnSql,
    "s03_neardup_pairs" -> nearDupPairsSql
  )
}
