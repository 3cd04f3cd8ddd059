package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s09/s10 — PRODUCT QUANTIZATION (PQ), the index structure behind
  * billion-vector ANN (FAISS IVFPQ family): split each embedding into
  * `m` subvectors, train a tiny per-subspace codebook, store each
  * vector as `m` small codes (here 8×4 bits = 32 bits vs 64×4 bytes —
  * a 64× compression of the scan set), and answer queries by
  * ASYMMETRIC DISTANCE (ADC): per query, precompute the distance from
  * each query subvector to every codebook centroid once, then score a
  * candidate by summing `m` table lookups — no float math per
  * candidate at all.
  *
  * Like [[Clustering]], training runs on the integer lattice
  * (`floor(x·1000)`), so codebooks, codes, and ADC distances are exact
  * int64s — bit-identical across engines and partitionings — which is
  * what lets a multi-stage trained index carry a DuckDB hash oracle
  * (per-subspace Lloyd rounds unrolled as generated CTEs).
  *
  * Scale shape:
  *   - training: one job per Lloyd round for ALL subspaces — each row
  *     computes its m codes map-side against k·dim broadcast literals,
  *     then a (subspace, code, component) partial-sum aggregate;
  *     collect is O(m·k·subDim) driver metadata.
  *   - coding: pure map-side arithmetic, no shuffle.
  *   - search: the ADC table (queries × m × k rows) is built
  *     driver-side from collected codebooks — bounded like s01's
  *     broadcast query batch — broadcast-joined to the exploded code
  *     column; per-query top-k via the bounded [[TopKScoreId]]
  *     aggregate, so the shuffle carries ≤ k rows per query per task.
  */
object Quantization {

  val m = 8           // subspaces
  val subDim = 8      // dims per subspace (m · subDim = 64)
  val codebookK = 16  // centroids per subspace (4-bit codes)
  val pqIters = 3     // fixed Lloyd rounds per subspace
  val topK = 10

  /** Candidate (indexed) set: everything but the query batch — a
    * filter over the memoized persisted lattice (one shared cache
    * entry; see [[Clustering.quantizedPersisted]]).
    */
  private def candidates(spark: SparkSession, dir: String): DataFrame =
    Clustering.quantizedPersisted(spark, dir)
      .filter(col("vec_id") >= Similarity.nQueries)

  /** Adds `code0..code{m-1}` (int) and `qerr` (long, Σ subspace
    * quantization error) via the [[PqEncode]] expression. The codebook
    * travels as a Column-level nested-array literal (NOT SQL text), so
    * the generated source — and the whole-stage-codegen cache entry —
    * is identical across Lloyd rounds; the first PQ spelling inlined
    * every centroid component as a source literal and recompiled ~1 s
    * per round.
    */
  private def withCodes(df: DataFrame,
                        books: Array[Array[Array[Long]]]): DataFrame = {
    val bookLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val coded = df.withColumn("enc",
      call_function("pq_encode", col("q"), bookLit))
    (0 until m).foldLeft(coded) { (acc, s) =>
      acc.withColumn(s"code$s",
        expr(s"CAST(element_at(enc, ${s + 1}) AS INT)"))
    }
      .withColumn("qerr", expr(s"element_at(enc, ${m + 1})"))
      .drop("enc")
  }

  /** Trained codebooks for `dir`'s candidate set, memoized per
    * (session, dir) like [[Clustering.centroidsOn]]'s centroids: the
    * training is deterministic (seeded by the first `codebookK`
    * vec_ids), s09/s10/s11/w09 all need the SAME books, and each
    * Lloyd round is an eager Spark job — without the memo the full
    * `pqIters`-round training ran four times per session. The books
    * are O(m·k·subDim) driver metadata, exactly what the broadcast
    * codebook literal carries anyway.
    */
  private def codebooks(spark: SparkSession,
                        dir: String): Array[Array[Array[Long]]] =
    PlanMemo.cachedValue(spark, dir, "pq.codebooks")(
      trainCodebooks(candidates(spark, dir)))

  /** Per-subspace codebooks trained with `pqIters` Lloyd rounds over
    * the candidate lattice — one Spark job per round covers all m
    * subspaces (codes map-side, then (s, code, j) partial sums).
    */
  private def trainCodebooks(qe: DataFrame): Array[Array[Array[Long]]] = {
    val init = qe.orderBy("vec_id").limit(codebookK)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    var books = Array.tabulate(m)(s =>
      init.map(full => full.slice(s * subDim, (s + 1) * subDim)))
    for (_ <- 1 to pqIters) {
      val codeArr =
        s"array(${(0 until m).map(s => s"code$s").mkString(", ")})"
      val sums = withCodes(qe, books)
        .select(expr(codeArr).as("cs"), posexplode(col("q")).as(Seq("pos", "v")))
        .select(
          expr(s"CAST(pos div $subDim AS INT)").as("s"),
          expr(s"element_at(cs, CAST(pos div $subDim AS INT) + 1)").as("code"),
          expr(s"CAST(pos % $subDim AS INT)").as("j"),
          col("v"))
        .groupBy("s", "code", "j")
        .agg(sum("v").as("sum"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone())) // empty code keeps its centroid
      sums.foreach { r =>
        val (s, c, j) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(s)(c)(j) =
          math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong
      }
      books = next
    }
    books
  }

  /** s09 — the PQ-coded candidate set: m codes + exact reconstruction
    * error per vector.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir)
    val books = codebooks(spark, dir)
    withCodes(cand, books)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"code$s")) :+ col("qerr"): _*)
      .orderBy("vec_id")
  }

  /** s10 — ADC top-k search: per query, distances to all candidates
    * via m code-table lookups summed; exact integer distances.
    */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir)
    val books = codebooks(spark, dir)
    val codes = withCodes(cand, books)
      .select(col("vec_id"), posexplode(expr(
        s"array(${(0 until m).map(s => s"code$s").mkString(", ")})"))
        .as(Seq("s", "code")))
    // ADC table: distance from each query subvector to each centroid —
    // queries are the bounded batch (s01 convention: vec_id < 10), so
    // collecting them is O(batch·dim) driver data, like s01's broadcast
    val qvecs = Clustering.quantized(spark, dir)
      .filter(col("vec_id") < Similarity.nQueries)
      .select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val dtRows = for {
      (qid, qv) <- qvecs.toSeq
      s <- 0 until m
      (cent, code) <- books(s).zipWithIndex
    } yield {
      var d = 0L
      var j = 0
      while (j < subDim) {
        val diff = qv(s * subDim + j) - cent(j); d += diff * diff; j += 1
      }
      (qid, s, code, d)
    }
    val sess = spark
    import sess.implicits._
    val dt = dtRows.toDF("q_id", "s", "code", "d")
    codes.join(broadcast(dt), Seq("s", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d").as("adist"))
      .withColumn("score", -col("adist").cast("double"))
      .groupBy("q_id")
      .agg(expr(s"topk_score_id(score, vec_id, $topK)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"),
        (-col("col.score")).cast("long").as("adist"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: per-subspace Lloyd rounds unrolled as generated
  // CTEs over (vec_id, s, j, q) subvector element rows.

  private def oracleCtes: String = {
    val nQ = Similarity.nQueries
    val sb = new StringBuilder
    sb.append(
      s"""qe AS (
         |  SELECT vec_id, CAST(i AS INT) AS i,
         |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * ${Clustering.quantScale}) AS BIGINT) AS q
         |  FROM (
         |    SELECT vec_id, embedding,
         |      unnest(range(1, len(embedding) + 1)) AS i
         |    FROM embeddings)
         |), sub AS (
         |  SELECT vec_id, CAST((i - 1) // $subDim AS INT) AS s,
         |    CAST((i - 1) % $subDim AS INT) AS j, q
         |  FROM qe
         |), cand AS (SELECT * FROM sub WHERE vec_id >= $nQ
         |), cb0 AS (
         |  SELECT s,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY s, j ORDER BY vec_id) - 1 AS INT) AS cid,
         |    j, q
         |  FROM cand
         |  WHERE vec_id IN (
         |    SELECT DISTINCT vec_id FROM cand ORDER BY vec_id LIMIT $codebookK)
         |)""".stripMargin)
    for (t <- 1 to pqIters) {
      sb.append(s""",
         |a$t AS (
         |  SELECT e.vec_id, e.s, c.cid, SUM((e.q - c.q) * (e.q - c.q)) AS d
         |  FROM cand e JOIN cb${t - 1} c ON e.s = c.s AND e.j = c.j
         |  GROUP BY e.vec_id, e.s, c.cid
         |), b$t AS (
         |  SELECT vec_id, s, cid AS code, d FROM (
         |    SELECT vec_id, s, cid, d,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
         |    FROM a$t)
         |  WHERE rn = 1
         |), u$t AS (
         |  SELECT b.s, b.code AS cid, e.j,
         |    CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
         |  FROM cand e JOIN b$t b ON e.vec_id = b.vec_id AND e.s = b.s
         |  GROUP BY b.s, b.code, e.j
         |), cb$t AS (
         |  SELECT p.s, p.cid, p.j, COALESCE(u.q, p.q) AS q
         |  FROM cb${t - 1} p
         |  LEFT JOIN u$t u ON u.s = p.s AND u.cid = p.cid AND u.j = p.j
         |)""".stripMargin)
    }
    val T = pqIters
    sb.append(s""",
       |afin AS (
       |  SELECT e.vec_id, e.s, c.cid, SUM((e.q - c.q) * (e.q - c.q)) AS d
       |  FROM cand e JOIN cb$T c ON e.s = c.s AND e.j = c.j
       |  GROUP BY e.vec_id, e.s, c.cid
       |), codes AS (
       |  SELECT vec_id, s, cid AS code, d FROM (
       |    SELECT vec_id, s, cid, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
       |    FROM afin)
       |  WHERE rn = 1
       |)""".stripMargin)
    sb.toString
  }

  val pqCodesSql: String = {
    val codeCols = (0 until m)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code$s")
      .mkString(",\n  ")
    s"""WITH $oracleCtes
       |SELECT vec_id,
       |  $codeCols,
       |  CAST(SUM(d) AS BIGINT) AS qerr
       |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val pqSearchSql: String =
    s"""WITH $oracleCtes,
       |dt AS (
       |  SELECT q.vec_id AS q_id, c.s, c.cid AS code,
       |    SUM((q.q - c.q) * (q.q - c.q)) AS d
       |  FROM sub q JOIN cb$pqIters c ON q.s = c.s AND q.j = c.j
       |  WHERE q.vec_id < ${Similarity.nQueries}
       |  GROUP BY 1, 2, 3
       |), adc AS (
       |  SELECT dt.q_id, codes.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adist
       |  FROM codes JOIN dt ON codes.s = dt.s AND codes.code = dt.code
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT q_id, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
       |      AS "rank"
       |  FROM adc)
       |SELECT q_id, "rank", vec_id, adist FROM r WHERE "rank" <= $topK
       |ORDER BY q_id, "rank"""".stripMargin

  // ---------------------------------------------------------------
  /** w09 — STREAMING PQ featurization: the exact batch s09 pipeline on
    * `readStream` — codebooks train batch-side (the static prep, like
    * w08's benchmark shingle set), then arriving vectors are coded by
    * the SAME [[PqEncode]] expression as a stateless streaming
    * projection. One expression serves batch and stream — the
    * Spark-native featurize-at-ingest story; at scale the memory sink
    * swaps for the real one and the plan runs continuously.
    *
    * Oracle: byte-identical to s09 (same codebooks, same codes), so it
    * reuses [[pqCodesSql]] — arrival order cannot affect a stateless
    * per-record projection.
    */
  def streamingPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir)
    val books = codebooks(spark, dir)
    // balancedStream: pq_encode over every subvector is the CPU-heavy
    // stage — single-row-group staging would run it on one core.
    StreamingQueries.drainTable(spark, dir, "embeddings", "append", "w09") { vecs =>
      val stream = StreamingQueries.balancedStream(
          vecs.filter(col("vec_id") >= Similarity.nQueries))
        .select(col("vec_id"), expr(
          s"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * ${Clustering.quantScale}) AS BIGINT))")
          .as("q"))
      withCodes(stream, books)
        .select(col("vec_id") +:
          (0 until m).map(s => col(s"code$s")) :+ col("qerr"): _*)
    }.orderBy("vec_id")
  }

  // ---------------------------------------------------------------
  /** s11 — IVFPQ SEARCH, the production billion-vector composite
    * (FAISS `IVFx,PQy`): the coarse IVF quantizer (s04's max-cosine
    * cells) prunes the candidate set to the query's `nProbe` cells,
    * and ONLY those candidates are scored — by PQ asymmetric distance
    * (s10's code-table lookups), never raw vectors. Both index
    * artifacts (cell assignment, PQ codes) are exactly the ones s04
    * and s09 build, so this is composition, not new machinery.
    *
    * Scale: the scan-side work drops from |corpus| ADC sums to
    * |probed cells| — the IVF pruning — while each remaining
    * candidate costs m table lookups instead of a dim-length float
    * dot. Probe lists and the ADC table are driver-bounded broadcast;
    * final top-k through the bounded aggregate.
    */
  val ivfTopK = 5

  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidates(spark, dir)
    val books = codebooks(spark, dir)
    val codes = withCodes(cand, books)
      .select(col("vec_id"), posexplode(expr(
        s"array(${(0 until m).map(s => s"code$s").mkString(", ")})"))
        .as(Seq("s", "code")))
    // IVF side — s04's recipe verbatim: 8 seed centroids, exact-int
    // argmax-cosine cell per candidate, nProbe best cells per query
    val emb = Similarity.withNorm(spark, dir)
    val cents = emb.filter(col("vec_id") < 8).select(
      col("vec_id").as("cell"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val cos4 = floor(
      expr(Similarity.sparkDot("embedding", "c_emb")) /
        (col("nrm") * col("c_nrm")) * 10000 + lit(0.5)).cast("long")
    val cellOf = emb.filter(col("vec_id") >= Similarity.nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy("vec_id")
      .agg(max(struct(col("cos4"), (-col("cell")).as("negcell"))).as("w"))
      .select(col("vec_id"), (-col("w.negcell")).as("cell"))
    val probes = emb.filter(col("vec_id") < Similarity.nQueries)
      .crossJoin(broadcast(cents))
      .withColumn("cos4", cos4)
      .groupBy(col("vec_id").as("q_id"))
      .agg(expr(
        s"topk_score_id(CAST(cos4 AS DOUBLE), cell, ${Similarity.nProbe})")
        .as("tk"))
      .select(col("q_id"), explode(col("tk")).as("probe"))
      .select(col("q_id"), col("probe.id").as("cell"))
    // ADC table (driver-bounded, as in s10)
    val qvecs = Clustering.quantized(spark, dir)
      .filter(col("vec_id") < Similarity.nQueries)
      .select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val dtRows = for {
      (qid, qv) <- qvecs.toSeq
      s <- 0 until m
      (cent, code) <- books(s).zipWithIndex
    } yield {
      var d = 0L
      var j = 0
      while (j < subDim) {
        val diff = qv(s * subDim + j) - cent(j); d += diff * diff; j += 1
      }
      (qid, s, code, d)
    }
    val sess = spark
    import sess.implicits._
    val dt = dtRows.toDF("q_id", "s", "code", "d")
    codes
      .join(cellOf, "vec_id")                 // candidate → its cell
      .join(broadcast(probes), Seq("cell"))   // keep probed cells only
      .join(broadcast(dt), Seq("q_id", "s", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d").as("adist"))
      .withColumn("score", -col("adist").cast("double"))
      .groupBy("q_id")
      .agg(expr(s"topk_score_id(score, vec_id, $ivfTopK)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("vec_id"),
        (-col("col.score")).cast("long").as("adist"))
      .orderBy("q_id", "rank")
  }

  val ivfPqSearchSql: String =
    s"""WITH $oracleCtes,
       |n AS (
       |  SELECT vec_id, embedding, ${Similarity.duckNorm} AS nrm FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell, embedding AS c_emb, nrm AS c_nrm
       |  FROM n WHERE vec_id < 8
       |), cscore AS (
       |  SELECT n.vec_id, cell,
       |    CAST(floor(${Similarity.duckDot("n.embedding", "c_emb")} / (n.nrm * c_nrm)
       |      * 10000 + 0.5) AS BIGINT) AS cos4
       |  FROM n CROSS JOIN cents
       |), cell_of AS (
       |  SELECT vec_id, cell FROM cscore WHERE vec_id >= ${Similarity.nQueries}
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) = 1
       |), probes AS (
       |  SELECT vec_id AS q_id, cell FROM cscore
       |  WHERE vec_id < ${Similarity.nQueries}
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY cos4 DESC, cell) <= ${Similarity.nProbe}
       |), dt AS (
       |  SELECT q.vec_id AS q_id, c.s, c.cid AS code,
       |    SUM((q.q - c.q) * (q.q - c.q)) AS d
       |  FROM sub q JOIN cb$pqIters c ON q.s = c.s AND q.j = c.j
       |  WHERE q.vec_id < ${Similarity.nQueries}
       |  GROUP BY 1, 2, 3
       |), adc AS (
       |  SELECT p.q_id, codes.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adist
       |  FROM codes
       |  JOIN cell_of ON cell_of.vec_id = codes.vec_id
       |  JOIN probes p ON p.cell = cell_of.cell
       |  JOIN dt ON dt.q_id = p.q_id AND dt.s = codes.s AND dt.code = codes.code
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT q_id, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
       |      AS "rank"
       |  FROM adc)
       |SELECT q_id, "rank", vec_id, adist FROM r WHERE "rank" <= $ivfTopK
       |ORDER BY q_id, "rank"""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s09_pq_codes" -> pqCodes _,
    "s10_pq_search" -> pqSearch _,
    "s11_ivfpq_search" -> ivfPqSearch _,
    "w09_streaming_pq" -> streamingPqCodes _
  )

  def oracles: Map[String, String] = Map(
    "s09_pq_codes" -> pqCodesSql,
    "s10_pq_search" -> pqSearchSql,
    "s11_ivfpq_search" -> ivfPqSearchSql,
    "w09_streaming_pq" -> pqCodesSql
  )
}
