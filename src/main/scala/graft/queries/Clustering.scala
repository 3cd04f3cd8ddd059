package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** km01/km02 — REPRODUCIBLE k-means over the embedding corpus, the
  * clustering pass behind semantic dedup / SemDeDup-style pruning and
  * cluster-balanced data mixing.
  *
  * Distributed float k-means is normally NOT reproducible: centroid
  * updates sum floats in partition order, so every run (and every
  * engine) drifts. This implementation runs Lloyd's algorithm on an
  * INTEGER LATTICE: embeddings are quantized once
  * (`floor(x·1000)` — float→double widening and ×1000 are exact IEEE
  * ops, so both engines produce identical integers), every distance is
  * an exact int64, and centroid updates are floor-div integer means.
  * Result: bit-identical clusters on any partitioning, any engine —
  * which is what makes a DuckDB hash oracle possible for an iterative
  * ML algorithm (4 unrolled Lloyd rounds, k=8, deterministic
  * smallest-vec_id init, ties to the lowest cluster id).
  *
  * Scale shape (the 100 TB contract):
  *   - per round, ONE scan of the quantized corpus (persisted once) —
  *     assignment is map-side arithmetic against k·dim BROADCAST
  *     LITERALS (k·dim = 512 longs, the same O(k·d) driver metadata
  *     MLlib's KMeans collects per iteration), and the update
  *     aggregates (cluster, dim) partial sums — shuffle rows bounded
  *     by k·dim·tasks, never the corpus.
  *   - distances run inside the codegen [[PqEncode]] expression (a
  *     full-vector assignment is PQ with one subspace), not
  *     interpreted HOF folds — and its referenced codebook keeps the
  *     generated source identical across rounds (one compile).
  *   - rounds are FIXED (no convergence probe): reproducibility and a
  *     bounded job count beat a data-dependent loop for a corpus-wide
  *     preprocessing pass.
  */
object Clustering {

  val kClusters = 8
  val lloydIters = 4
  val quantScale = 1000

  /** Quantized embedding frame: (vec_id, q bigint[]) — shared with
    * [[Quantization]] (PQ trains on the same lattice).
    */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * $quantScale) AS BIGINT))")
        .as("q"))

  /** The PERSISTED lattice, memoized per (session, dir): km01–03,
    * s09/s10 and w09 all iterate over this frame, and a per-call
    * `.persist` accumulated one redundant cached copy per query in
    * any JVM that doesn't clearCache between queries (the test
    * suite). The re-`persist` on every retrieval is deliberate: it is
    * a no-op while cached and re-registers the plan after a
    * Bench/Verify `clearCache`, so the iterative loops never lose
    * their cache mid-query.
    */
  private[graft] def quantizedPersisted(spark: SparkSession, dir: String): DataFrame =
    PlanMemo.cached(spark, s"clustering.lattice:$dir")(quantized(spark, dir))

  /** One assignment pass as columns: (cluster, dist2) against the
    * centroids. Full-vector k-means IS product quantization with one
    * subspace, so this rides [[PqEncode]]: the centroid set travels as
    * a foldable nested-array literal (a codegen reference, not source
    * text), so all Lloyd rounds share ONE compiled method — the
    * original literal-inlined spelling re-generated different source
    * per round and paid ~1 s of whole-stage-codegen compile each.
    * PqEncode's strict-< keeps the lowest cluster id on distance
    * ties, matching the oracle's `ORDER BY d, cid`.
    */
  private def withAssignment(df: DataFrame, cents: Array[Array[Long]]): DataFrame =
    df.withColumn("enc", call_function("pq_encode",
        col("q"), typedLit(Seq(cents.map(_.toSeq).toSeq))))
      .withColumn("cluster", expr("CAST(element_at(enc, 1) AS INT)"))
      .withColumn("dist2", expr("element_at(enc, 2)"))
      .drop("enc")

  /** The converged (fixed-round) assignment frame shared by km01/km02:
    * runs `lloydIters` eager assign→update rounds (each update is a
    * k·dim collect, O(k·d) driver metadata), then assigns once more
    * against the final centroids lazily for the returned plan.
    */
  private def assigned(spark: SparkSession, dir: String): DataFrame =
    assignedOn(spark, s"clustering:$dir", quantizedPersisted(spark, dir))

  /** Train-then-assign over an arbitrary (vec_id, q) lattice frame —
    * shared with [[Dedup.semanticDedup]], which clusters an augmented
    * corpus. The trained centroids are memoized per (session, key):
    * the Lloyd loop is EAGER (one collect per round), and km01/02/03
    * each needed the same centroids — without the memo the whole
    * training ran three times per session. The centroids are O(k·d)
    * deterministic metadata, so caching them is exactly as safe as
    * caching the literal codebook they become.
    */
  private[graft] def assignedOn(
      spark: SparkSession, key: String, qe: DataFrame,
      k: Int = kClusters): DataFrame =
    withAssignment(qe, centroidsOn(spark, key, qe, k))

  /** Train (or recall) the memoized centroids WITHOUT assigning —
    * split out of [[assignedOn]] for w14, which freezes a model on the
    * static base corpus and applies it to a different frame (the
    * incoming stream) via [[assignWith]].
    */
  private[graft] def centroidsOn(
      spark: SparkSession, key: String, qe: DataFrame,
      k: Int = kClusters): Array[Array[Long]] = {
    PlanMemo.cachedValue(spark, s"clustering.cents:$key:k$k") {
      var c: Array[Array[Long]] = qe.orderBy("vec_id").limit(k)
        .select("q").collect()
        .map(_.getSeq[Long](0).toArray)
      for (_ <- 1 to lloydIters) {
        val sums = withAssignment(qe, c)
          .select(col("cluster"), posexplode(col("q")).as(Seq("i", "v")))
          .groupBy("cluster", "i")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
        val next = c.map(_.clone()) // empty cluster keeps its centroid
        sums.foreach { r =>
          val (cl, i) = (r.getInt(0), r.getInt(1))
          next(cl)(i) =
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }
        c = next
      }
      c
    }
  }

  /** Assign an arbitrary (…, q) frame against a FROZEN centroid set —
    * a pure codegen expression over a literal codebook, so it is
    * stateless and streaming-safe (w14 applies it per micro-batch
    * record).
    */
  private[graft] def assignWith(
      df: DataFrame, cents: Array[Array[Long]]): DataFrame =
    withAssignment(df, cents)

  /** km01 — per-vector cluster assignment + exact squared distance. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    assigned(spark, dir)
      .select("vec_id", "cluster", "dist2")
      .orderBy("vec_id")

  /** km02 — cluster profile: size and exact integer inertia. */
  def kmeansProfile(spark: SparkSession, dir: String): DataFrame =
    assigned(spark, dir)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("dist2").as("inertia"))
      .orderBy("cluster")

  // ---------------------------------------------------------------
  /** km03 — PROTOTYPE SAMPLE: the `centralQuota` most-central vectors
    * per cluster (smallest exact distance, vec_id tie-break) — the
    * prototype-selection pass downstream of clustering (inspect a
    * cluster, seed a labeling round, build a balanced probe set).
    *
    * Scale shape: selection is the bounded [[TopKScoreId]] aggregate —
    * each map task contributes ≤ quota rows per cluster to the
    * shuffle; no `rank() OVER (PARTITION BY cluster)` sort of the full
    * corpus (the naive spelling the oracle uses, fine at oracle
    * scale). dist² ≤ dim·(2·scale)² ≈ 7e7 stays exact as the
    * aggregate's double score.
    */
  val centralQuota = 10

  def centralSample(spark: SparkSession, dir: String): DataFrame = {
    assigned(spark, dir)
      .withColumn("score", -col("dist2").cast("double"))
      .groupBy("cluster")
      .agg(expr(s"topk_score_id(score, vec_id, $centralQuota)").as("tk"))
      .select(col("cluster"), posexplode(col("tk")))
      .select(col("cluster"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"))
      .orderBy("cluster", "rank")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the same 4 Lloyd rounds UNROLLED as generated CTEs
  // over (vec_id, qv) LIST rows — an independent spelling (cross join
  // + list arithmetic + window argmin) of the same exact integer
  // algorithm. The first spelling joined exploded (vec_id, i, q)
  // ELEMENT rows per round — N·k·dim materialized rows per assignment
  // CTE, which OOM'd DuckDB at gensf1 for the occupancy-scaled-k
  // callers (d14: 50k vectors × k=50 × 64 dims × 5 assignments spilled
  // >74 GB). The list form materializes N·k rows per assignment (the
  // per-element work rides inside list_transform), identical integer
  // results.

  /** `kSql` is spliced into the seed CTE's LIMIT — an int literal for
    * the fixed-k queries, or a parenthesized scalar subquery (DuckDB
    * allows expressions in LIMIT) for callers whose ENGINE k scales
    * with corpus occupancy (d14/w14: k = max(kClusters,
    * n/semCellTarget)). Keeping the oracle's k a hardcoded 8 was a
    * latent hash divergence the moment the corpus outgrew
    * kClusters × semCellTarget vectors (round-12 advice).
    */
  private[graft] def oracleCtes(src: String = "embeddings",
      kSql: String = kClusters.toString, prefix: String = "",
      includeQe: Boolean = true): String = {
    val p = prefix
    val sb = new StringBuilder
    // AS MATERIALIZED throughout the round chain (round-18, the d14
    // de-special-casing): DuckDB's default per-reference CTE inlining
    // re-executes c{t-1} once for the round-t assignment AND once for
    // the round-t carry join, so the expansion doubles per round —
    // the whole unrolled train re-ran ~2^iters times and d14's sf1
    // legs spilled >60 GB under the matrix config. Materialized, each
    // round computes once; every CTE here is k- or N-row bounded.
    if (includeQe) sb.append(
      s"""qe AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(1, len(embedding) + 1), i ->
         |      CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $quantScale) AS BIGINT)) AS qv
         |  FROM $src
         |), """.stripMargin)
    sb.append(
      s"""${p}c0 AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    qv AS cv
         |  FROM qe
         |  WHERE vec_id IN (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $kSql)
         |)""".stripMargin)
    // one assignment CTE: N·k rows, the dim loop inside list_transform
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT e.vec_id, c.cid,
         |    ${listDist2Sql("e.qv", "c.cv")} AS d
         |  FROM qe e CROSS JOIN $cents c
         |)""".stripMargin
    for (t <- 1 to lloydIters) {
      sb.append(s""",
         |${assign(s"${p}a$t", s"${p}c${t - 1}")}, ${p}b$t AS MATERIALIZED (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM ${p}a$t)
         |  WHERE rn = 1
         |), ${p}u$t AS (
         |  SELECT cid, list(q ORDER BY i) AS cv FROM (
         |    SELECT cid, i,
         |      CAST(FLOOR(CAST(SUM(qel) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
         |    FROM (
         |      SELECT b.cid,
         |        unnest(range(1, len(e.qv) + 1)) AS i,
         |        unnest(e.qv) AS qel
         |      FROM qe e JOIN ${p}b$t b USING (vec_id))
         |    GROUP BY cid, i)
         |  GROUP BY cid
         |), ${p}c$t AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |  FROM ${p}c${t - 1} p LEFT JOIN ${p}u$t u USING (cid)
         |)""".stripMargin)
    }
    val T = lloydIters
    sb.append(s""",
       |${assign(s"${p}afin", s"${p}c$T")}, ${p}fin AS MATERIALIZED (
       |  SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist2 FROM (
       |    SELECT vec_id, cid, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM ${p}afin)
       |  WHERE rn = 1
       |)""".stripMargin)
    sb.toString
  }

  /** Exact integer squared distance between two BIGINT-list columns —
    * the list-arithmetic twin of the a-CTE's old per-element SUM.
    * Shared with w14's incoming-half assignment, which joins against
    * the final `c<T>` centroid LISTS this generator now emits.
    */
  private[graft] def listDist2Sql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1), i ->
       |      ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')""".stripMargin

  val kmeansAssignSql: String =
    s"""WITH ${oracleCtes()}
       |SELECT vec_id, cluster, dist2 FROM fin ORDER BY vec_id""".stripMargin

  val kmeansProfileSql: String =
    s"""WITH ${oracleCtes()}
       |SELECT cluster, COUNT(*) AS n, CAST(SUM(dist2) AS BIGINT) AS inertia
       |FROM fin GROUP BY cluster ORDER BY cluster""".stripMargin

  val centralSampleSql: String =
    s"""WITH ${oracleCtes()},
       |r AS (
       |  SELECT cluster, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY dist2, vec_id)
       |      AS "rank"
       |  FROM fin)
       |SELECT cluster, "rank", vec_id FROM r WHERE "rank" <= $centralQuota
       |ORDER BY cluster, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** km04 — ELBOW CURVE: total inertia at k ∈ [[elbowKs]], the query
    * that picks k before committing a clustering run (SemDeDup cell
    * counts, IVF list counts). Each k trains its own fixed-round
    * Lloyd centroids on the shared persisted lattice (memoized per
    * (session, k) like km01's); the per-k total is one
    * partial-combining sum, and the result is [[elbowKs]].size rows.
    * Inertia is exact integer arithmetic end-to-end, so the curve is
    * hash-gated against the unrolled-CTE oracle at every k.
    */
  val elbowKs = Seq(2, 4, 8)

  def elbowCurve(spark: SparkSession, dir: String): DataFrame = {
    val qe = quantizedPersisted(spark, dir)
    elbowKs.map { k =>
      assignedOn(spark, s"clustering:$dir", qe, k)
        .agg(
          sum("dist2").as("inertia"),
          countDistinct("cluster").as("clusters_used"))
        .select(lit(k).as("k"), col("inertia"), col("clusters_used"))
    }.reduce(_ unionAll _).orderBy("k")
  }

  val elbowCurveSql: String = {
    val blocks = elbowKs.zipWithIndex.map { case (k, i) =>
      oracleCtes("embeddings", k.toString, s"k${k}_", includeQe = i == 0)
    }.mkString(",\n")
    val selects = elbowKs.map { k =>
      s"""SELECT $k AS k, CAST(SUM(dist2) AS BIGINT) AS inertia,
         |  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS clusters_used
         |FROM k${k}_fin""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $blocks
       |SELECT * FROM ($selects) ORDER BY k""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "km04_elbow_curve" -> elbowCurve _,
    "km01_kmeans_assign" -> kmeansAssign _,
    "km02_kmeans_profile" -> kmeansProfile _,
    "km03_central_sample" -> centralSample _
  )

  def oracles: Map[String, String] = Map(
    "km04_elbow_curve" -> elbowCurveSql,
    "km01_kmeans_assign" -> kmeansAssignSql,
    "km02_kmeans_profile" -> kmeansProfileSql,
    "km03_central_sample" -> centralSampleSql
  )
}
