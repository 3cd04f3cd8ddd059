package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the pretraining batch primitive: lay the corpus
  * out into fixed-capacity token windows ("chunks") so every training
  * sequence is exactly `chunkTokens` long.
  *
  * p01 implements CONCAT-AND-CHUNK (the GPT-style discipline): within
  * each lang shard, documents concatenate in doc_id order and the
  * stream is cut every `chunkTokens` tokens — documents may span a
  * boundary; nothing is padded or dropped. That discipline is exactly
  * a prefix-sum, which is why it is THE scalable packing: a running
  * total per shard, no sequential bin-fitting fold (greedy
  * full-document packing is inherently serial and cannot
  * distribute).
  *
  * Scale shape: one window cumsum PARTITIONED BY the shard key — at
  * 100 TB the shard key is (lang, shard_id) so no single partition
  * sees the whole corpus; here lang alone demonstrates the pattern.
  * Token counts are computed map-side before the shuffle; the window
  * input is (lang, doc_id, n_tok) triples, never text.
  */
object Packing {

  val chunkTokens = 512

  /** Whitespace token count — the same recipe both engines run. */
  private val sparkNTok =
    "size(filter(split(text, ' '), t -> t != ''))"
  private[graft] val duckNTok =
    "len(list_filter(string_split(text, ' '), t -> t <> ''))"

  /** p01 — per-document chunk placement: cumulative token offset,
    * first/last chunk index, and how many chunk boundaries the doc
    * crosses. A doc with `spans > 1` is split across training
    * sequences — the packing loss every pipeline monitors.
    */
  /** The ONE spelling of concat-and-chunk placement over a
    * (lang, doc_id, n_tok) frame — shared by p01 (whitespace tokens)
    * and p07 (real BPE token ids) so the two packings cannot drift.
    *
    * `sorted = false` (round 19, guide §2.4 "an orderBy used only to
    * make output deterministic"): callers that AGGREGATE the
    * placement order-insensitively (e02's chunk assembly collects
    * into an array_sort) or re-establish the total order themselves
    * after further joins (appendAgainst's shifted-offset output)
    * skip the trailing global sort — one range Exchange + Sort of
    * the full placement table removed per call, with the VALUES
    * untouched (tok_offset comes from the window, not the orderBy).
    */
  private[graft] def placed(base: DataFrame, sorted: Boolean = true): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val out = base
      .withColumn("tok_offset", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("first_chunk", floor(col("tok_offset") / chunkTokens))
      .withColumn("last_chunk",
        floor((col("tok_offset") + greatest(col("n_tok"), lit(1)) - 1)
          / chunkTokens))
      .withColumn("spans", (col("last_chunk") - col("first_chunk") + 1))
      .select("lang", "doc_id", "n_tok", "tok_offset",
        "first_chunk", "last_chunk", "spans")
    if (sorted) out.orderBy("lang", "doc_id") else out
  }

  def packChunks(spark: SparkSession, dir: String): DataFrame =
    placed(Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), expr(sparkNTok).as("n_tok")))

  // Every derived integer is CAST(... AS BIGINT): DuckDB's windowed
  // SUM(int) is HUGEINT (int128), which the driver's pandas bridge
  // renders as float64 — the values then hash as "123.0" vs Spark's
  // "123" and the compare fails on dtype alone (round-5 p01/p02).
  val packChunksSql: String =
    s"""WITH t AS (
       |  SELECT lang, doc_id, $duckNTok AS n_tok FROM documents
       |), o AS (
       |  SELECT lang, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM t)
       |SELECT lang, doc_id, n_tok, tok_offset,
       |  CAST(tok_offset // $chunkTokens AS BIGINT) AS first_chunk,
       |  CAST((tok_offset + GREATEST(n_tok, 1) - 1) // $chunkTokens AS BIGINT)
       |    AS last_chunk,
       |  CAST((tok_offset + GREATEST(n_tok, 1) - 1) // $chunkTokens
       |    - tok_offset // $chunkTokens + 1 AS BIGINT) AS spans
       |FROM o ORDER BY lang, doc_id""".stripMargin

  /** p02 — shard-level packing profile: chunks produced, packing
    * efficiency (non-pad tokens in the last chunk), and boundary-
    * crossing docs per lang shard. The numbers a data-loading team
    * actually reviews before a run.
    */
  def packProfile(spark: SparkSession, dir: String): DataFrame =
    packChunks(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_tok").as("total_tokens"),
        (max("last_chunk") + 1).as("chunks"),
        sum(when(col("spans") > 1, 1).otherwise(0)).as("split_docs"),
        // tokens occupied in the final, partially-filled chunk
        (sum("n_tok") - max("last_chunk") * chunkTokens).as("tail_tokens"))
      .orderBy("lang")

  val packProfileSql: String =
    s"""WITH t AS (
       |  SELECT lang, doc_id, $duckNTok AS n_tok FROM documents
       |), o AS (
       |  SELECT lang, doc_id, n_tok,
       |    COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
       |  FROM t
       |), p AS (
       |  SELECT lang, n_tok,
       |    tok_offset // $chunkTokens AS first_chunk,
       |    (tok_offset + GREATEST(n_tok, 1) - 1) // $chunkTokens AS last_chunk
       |  FROM o)
       |SELECT lang, COUNT(*) AS docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(MAX(last_chunk) + 1 AS BIGINT) AS chunks,
       |  CAST(SUM(CASE WHEN last_chunk > first_chunk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS split_docs,
       |  CAST(SUM(n_tok) - MAX(last_chunk) * $chunkTokens AS BIGINT) AS tail_tokens
       |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  /** p03 — deterministic SHARD MANIFEST: the artifact a training run
    * reads to know what it is consuming. Every document is assigned a
    * shard by a closed-form multiplicative hash of doc_id (portable
    * arithmetic — NOT an engine hash function, so any system can
    * recompute placement), and each shard row carries doc/char counts,
    * the id range, and an ORDER-INDEPENDENT content checksum
    * (`bit_xor` of the 60-bit text fingerprints) that re-verifies
    * byte-identical delivery after any repartition/rewrite.
    *
    * Scale posture: one partial-combining aggregate keyed by shard —
    * the shuffle carries `nShards × tasks` pre-combined rows, never
    * documents; XOR keeps the checksum bounded and associative at any
    * row count. The multiplier/addend stay < 2³¹ so `(id % P)·a + b`
    * cannot overflow a long under ANSI semantics.
    */
  val nShards = 16
  private val P = 2147483647L // 2^31 - 1

  /** The closed-form multiplicative shard hash over any non-negative
    * integer key column — p03 keys it by doc_id, e05's published
    * manifest by chunk_id; ONE spelling so placements can't drift.
    */
  private[graft] def shardExprOn(keyCol: String): String =
    s"(($keyCol % $P) * 1299709 + 104729) % $P % $nShards"

  private val shardExpr = shardExprOn("doc_id")

  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("shard", expr(shardExpr))
      .withColumn("fp", Text.fp64(col("text")))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_chars").as("chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        expr("bit_xor(fp)").as("checksum"))
      .orderBy("shard")

  val shardManifestSql: String =
    s"""SELECT $shardExpr AS shard,
       |  COUNT(*) AS docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars,
       |  MIN(doc_id) AS min_doc,
       |  MAX(doc_id) AS max_doc,
       |  BIT_XOR(${Text.fp64Sql("text")}) AS checksum
       |FROM documents
       |GROUP BY 1 ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------
  /** p04 — OVERLAPPING CHUNKING, the retrieval-side twin of p01:
    * where pretraining packs documents into a continuous token stream
    * (p01), a RAG/embedding index splits each document into
    * fixed-size windows with overlap so no answer span straddles a
    * boundary unseen. Each chunk row carries its token range and a
    * deterministic chunk key (doc_id · maxChunks + index) an index
    * can join back on. Pure map-side arithmetic
    * (sequence/posexplode), no shuffle but the presentation sort;
    * per-doc chunk counts are ⌈(n−overlap)/stride⌉-bounded, so the
    * fan-out is linear in token count at any scale.
    */
  val ragChunkTokens = 64
  val ragChunkStride = 48 // 16-token overlap
  // 2³² chunk slots per doc: a doc would need ~2×10¹⁴ tokens to
  // collide into the next doc's keyspace, and doc_id·2³²+idx still
  // fits a long for any 31-bit doc_id — uniqueness by construction
  val maxChunksPerDoc = 1L << 32

  def ragChunks(spark: SparkSession, dir: String): DataFrame =
    chunkFrame(spark, dir).orderBy("doc_id", "chunk_idx")

  /** p04's chunk rows WITHOUT the presentation sort — the composable
    * form s14's retrieval pipeline consumes (a sort under its joins
    * would be dead weight even where Catalyst fails to eliminate it).
    */
  private[graft] def chunkFrame(spark: SparkSession, dir: String): DataFrame = {
    val n = "greatest(CAST(n_tok AS INT), 1)"
    // chunk starts: 1, 1+stride, … while start <= n - overlap (last
    // chunk may be short but never empty; a short doc yields 1 chunk)
    val starts =
      s"""CASE WHEN $n <= $ragChunkTokens THEN array(1)
         |ELSE transform(
         |  sequence(0, CAST(ceil(($n - $ragChunkTokens) / CAST($ragChunkStride AS DOUBLE)) AS INT)),
         |  i -> 1 + i * $ragChunkStride)
         |END""".stripMargin
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(sparkNTok).as("n_tok"))
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        posexplode(expr(starts)))
      .toDF("doc_id", "n_tok", "idx", "start_tok")
      .select(
        col("doc_id"),
        (col("doc_id") * maxChunksPerDoc + col("idx")).as("chunk_key"),
        col("idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(col("start_tok") + ragChunkTokens - 1, greatest(col("n_tok"), lit(1L)))
          .cast("long").as("end_tok"))
  }

  val ragChunksSql: String = {
    val n = "GREATEST(CAST(n_tok AS INT), 1)"
    s"""WITH t AS (
       |  SELECT doc_id, $duckNTok AS n_tok FROM documents
       |), s AS (
       |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       |    CAST(i AS INT) AS idx, 1 + CAST(i AS INT) * $ragChunkStride AS start_tok
       |  FROM (
       |    SELECT doc_id, n_tok,
       |      unnest(range(0,
       |        CASE WHEN $n <= $ragChunkTokens THEN 1
       |        ELSE CAST(ceil(($n - $ragChunkTokens) / CAST($ragChunkStride AS DOUBLE)) AS INT) + 1
       |        END)) AS i
       |    FROM t)
       |)
       |SELECT doc_id,
       |  doc_id * $maxChunksPerDoc + idx AS chunk_key,
       |  CAST(idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(LEAST(start_tok + ${ragChunkTokens - 1},
       |             GREATEST(n_tok, 1)) AS BIGINT) AS end_tok
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---------------------------------------------------------------
  /** p05 — CURRICULUM PLAN: band the corpus into quality stages
    * (stage 0 = highest-quality band trains first — the curriculum-
    * learning data order) and emit the per-stage schedule a training
    * run consumes: document count, token budget, mean quality, and
    * the cumulative token count through each stage.
    *
    * Stage assignment is a fixed THRESHOLD BAND on the t03 quality
    * score — a map-side comparison, deliberately not an ntile/
    * percent_rank window: a global rank window funnels the whole
    * corpus through one partition, while fixed bands keep the scan
    * embarrassingly parallel at 100 TB. In production the band edges
    * come from a one-time quantile probe of the corpus (these are the
    * sf-profile quintile edges); the plan query itself never ranks.
    * The only window left is the running total over the ≤
    * [[curriculumStages]] plan rows.
    */
  val curriculumStages = 5

  /** Descending quality band edges: score ≥ edge(i) → stage i. */
  val curriculumEdges: Seq[Double] = Seq(0.68, 0.66, 0.64, 0.61)

  def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    val q = Text.qualityScores(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val staged = q.withColumn("stage",
      curriculumEdges.zipWithIndex.foldRight(
        lit(curriculumStages - 1): org.apache.spark.sql.Column) {
        case ((edge, i), rest) =>
          when(col("quality_score") >= edge, i).otherwise(rest)
      }.cast("int"))
    val plan = staged.groupBy("stage")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens").cast("long")).as("stage_tokens"),
        // integer sum of the (already 4-dp) scores: aggregation-order
        // independent, unlike a double AVG
        Exact.round4(
          sum(floor(col("quality_score") * 10000 + lit(0.5)).cast("long"))
            .cast("double") / (count(lit(1)) * 10000.0)).as("mean_quality"))
    val w = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    plan
      .withColumn("cum_tokens", sum("stage_tokens").over(w))
      .select("stage", "docs", "stage_tokens", "mean_quality", "cum_tokens")
      .orderBy("stage")
  }

  val curriculumPlanSql: String =
    s"""WITH q AS (
       |  SELECT * FROM (${Text.qualityScoresSql})
       |), staged AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |    CAST(CASE ${curriculumEdges.zipWithIndex.map { case (e, i) =>
                s"WHEN quality_score >= $e THEN $i"
              }.mkString(" ")}
       |      ELSE ${curriculumStages - 1} END AS INT) AS stage
       |  FROM q
       |), plan AS (
       |  SELECT stage, COUNT(*) AS docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens,
       |    ${Exact.round4Sql(
              "CAST(SUM(CAST(FLOOR(quality_score * 10000 + 0.5) AS BIGINT)) AS DOUBLE)" +
              " / (COUNT(*) * 10000.0)")} AS mean_quality
       |  FROM staged GROUP BY stage)
       |SELECT stage, docs, stage_tokens, mean_quality,
       |  CAST(SUM(stage_tokens) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens
       |FROM plan ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------
  /** p06 — LEAKAGE-FREE EVAL SPLITS: assign train/val/test by a hash
    * of the near-dup CLUSTER id (d08's connected components), so
    * every member of a duplicate family lands in the same split —
    * the production discipline that keeps paraphrases of training
    * documents out of the eval set. The naive doc_id-hash split is
    * computed alongside, and the query REPORTS the difference: the
    * number of verified near-dup pairs that straddle splits is 0 for
    * the cluster scheme by construction, and materially positive for
    * the naive scheme on the same corpus.
    *
    * Scale shape: split assignment is one hash per doc (map-side
    * after the cluster join); the leakage audit joins the bounded
    * pair set (≪ corpus) against the split map twice, keyed by
    * doc_id. Hash math is the shared [[Text.fp64]] recipe, identical
    * in both engines.
    */
  val splitBuckets = 10 // 0–7 train, 8 val, 9 test

  private def splitName(b: org.apache.spark.sql.Column) =
    when(b <= 7, "train").when(b === 8, "val").otherwise("test")

  def leakageSplits(spark: SparkSession, dir: String): DataFrame = {
    // Consume the PUBLISHED cluster/pair artifacts (round-11 verdict
    // "next" 6), not the in-memory pipelines: p06 was re-running d08's
    // CC fixpoint + d03's posting pipeline after every `clearCache` —
    // the #1 cost at sf0.1 AND sf10 for work those families already
    // shipped. [[PlanMemo.publishedParquet]] is the release-pipeline
    // shape c06 already uses (publish-once per JVM and corpus); the
    // builders are hash-gated, so the artifact read cannot change
    // any answer. d08's output carries ccLabels' (node, lbl) verbatim
    // as (doc_id, cluster_id).
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val labels = PlanMemo.publishedParquet(spark, dir, "d08_neardup_clusters")(
        Dedup.neardupClusters(spark, dir))
      .select(col("doc_id"), col("cluster_id").as("lbl"))
    // shuffle_hash: cluster labels are docs-scale, like every frame
    // in this query except the final 1-row leak counts.
    // Memoized: the split map feeds the per-scheme counts AND both
    // leak audits (4 consumers) — one build instead of four.
    val sp = PlanMemo.cached(spark, dir, "packing.splitMap")(
      docs.join(labels.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("lbl"), col("doc_id")))
        .select(col("doc_id"),
          splitName(pmod(Text.fp64(col("cluster").cast("string")),
            lit(splitBuckets.toLong))).as("s_cluster"),
          splitName(pmod(Text.fp64(col("doc_id").cast("string")),
            lit(splitBuckets.toLong))).as("s_naive")))
    val pairs = Dedup.pairsPublished(spark, dir)
    def leaked(scheme: String) = pairs
      .join(sp.select(col("doc_id").as("d1"), col(scheme).as("sa"))
        .hint("shuffle_hash"), "d1")
      .join(sp.select(col("doc_id").as("d2"), col(scheme).as("sb"))
        .hint("shuffle_hash"), "d2")
      .filter(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("leaked_pairs"))
    def counts(scheme: String, name: String) = sp
      .groupBy(col(scheme).as("split"))
      .agg(count(lit(1)).as("docs"))
      .select(lit(name).as("scheme"), col("split"), col("docs"))
      .crossJoin(broadcast(leaked(scheme)))
    counts("s_cluster", "cluster").unionAll(counts("s_naive", "naive"))
      .orderBy("scheme", "split")
  }

  val leakageSplitsSql: String = {
    def splitCase(e: String) =
      s"""CASE WHEN ${Text.fp64Sql(e)} % $splitBuckets <= 7 THEN 'train'
         |WHEN ${Text.fp64Sql(e)} % $splitBuckets = 8 THEN 'val'
         |ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE ${Dedup.jaccardPairsCteSql},
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs
       |), reach AS (
       |  SELECT a AS node, a AS lbl FROM edges
       |  UNION
       |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
       |), cc AS MATERIALIZED (
       |  SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
       |), sp AS MATERIALIZED (
       |  -- MATERIALIZED (cc too): sp is read FOUR times below; default
       |  -- inlining re-ran the whole md5-split projection AND the cc
       |  -- recursion per reference — the zipf-sf1 sweep timed this
       |  -- oracle out before the hints, seconds after
       |  SELECT d.doc_id,
       |    ${splitCase("CAST(COALESCE(cc.cluster_id, d.doc_id) AS VARCHAR)")}
       |      AS s_cluster,
       |    ${splitCase("CAST(d.doc_id AS VARCHAR)")} AS s_naive
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
       |), lc AS (
       |  SELECT COUNT(*) AS leaked_pairs FROM pairs p
       |  JOIN sp a ON a.doc_id = p.d1 JOIN sp b ON b.doc_id = p.d2
       |  WHERE a.s_cluster <> b.s_cluster
       |), ln AS (
       |  SELECT COUNT(*) AS leaked_pairs FROM pairs p
       |  JOIN sp a ON a.doc_id = p.d1 JOIN sp b ON b.doc_id = p.d2
       |  WHERE a.s_naive <> b.s_naive
       |)
       |SELECT * FROM (
       |  SELECT 'cluster' AS scheme, s_cluster AS split, COUNT(*) AS docs,
       |    (SELECT leaked_pairs FROM lc) AS leaked_pairs
       |  FROM sp GROUP BY s_cluster
       |  UNION ALL
       |  SELECT 'naive', s_naive, COUNT(*),
       |    (SELECT leaked_pairs FROM ln)
       |  FROM sp GROUP BY s_naive)
       |ORDER BY scheme, split""".stripMargin
  }

  // ---------------------------------------------------------------
  /** p07 — PACK THE REAL TOKENIZER OUTPUT (round-15 verdict "next"
    * 2): concat-and-chunk placement over each document's ACTUAL
    * byte-level BPE token-id sequence ([[Text.bpeTokenIdSeqsOn]] — the
    * frame t24 digests), closing the pipeline loop: t21 trains the
    * tokenizer, t24 materializes id sequences, p07 lays them into
    * fixed-capacity training chunks. p01/p04 pack whitespace-token
    * counts (the pre-tokenizer estimate); p07 is the number the
    * training run actually consumes.
    *
    * Scale shape: the id pipeline is t24's (shuffle_hash dictionary
    * join, per-doc bounded reassembly); the placement window is p01's
    * per-shard prefix sum. Token counts reduce to (doc_id, n_tok)
    * before the window — id arrays never enter the shuffle.
    * Conservation is spec-pinned: Σ n_tok here = Σ t24 n_tokens.
    */
  def packBpeIds(spark: SparkSession, dir: String): DataFrame = {
    val seqs = Text.bpeTokenIdSeqsOn(spark, dir, Tables.documents(spark, dir))
      .select(col("doc_id"), size(col("ids")).as("nt"))
    placed(Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"))
      .join(seqs.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("lang"), col("doc_id"),
        coalesce(col("nt"), lit(0)).cast("long").as("n_tok")))
  }

  val packBpeIdsSql: String =
    s"""WITH ${Text.bpeDictCteSql}, docw AS (
       |  SELECT doc_id, word, COUNT(*) AS cnt FROM (
       |    SELECT doc_id, unnest(${Text.bpeWordsSql("text")}) AS word
       |    FROM documents) t
       |  GROUP BY doc_id, word
       |), enc AS (
       |  SELECT doc_id, CAST(SUM(cnt * ntok) AS BIGINT) AS n_tok
       |  FROM docw JOIN dict USING (word) GROUP BY doc_id
       |), base AS (
       |  SELECT d.lang, d.doc_id, CAST(COALESCE(e.n_tok, 0) AS BIGINT) AS n_tok
       |  FROM documents d LEFT JOIN enc e USING (doc_id)
       |), o AS (
       |  SELECT lang, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM base)
       |SELECT lang, doc_id, n_tok, tok_offset,
       |  CAST(tok_offset // $chunkTokens AS BIGINT) AS first_chunk,
       |  CAST((tok_offset + GREATEST(n_tok, 1) - 1) // $chunkTokens AS BIGINT)
       |    AS last_chunk,
       |  CAST((tok_offset + GREATEST(n_tok, 1) - 1) // $chunkTokens
       |    - tok_offset // $chunkTokens + 1 AS BIGINT) AS spans
       |FROM o ORDER BY lang, doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p07_pack_bpe_ids" -> packBpeIds _,
    "p06_leakage_splits" -> leakageSplits _,
    "p05_curriculum_plan" -> curriculumPlan _,
    "p01_pack_chunks" -> packChunks _,
    "p02_pack_profile" -> packProfile _,
    "p03_shard_manifest" -> shardManifest _,
    "p04_rag_chunks" -> ragChunks _
  )

  def oracles: Map[String, String] = Map(
    "p07_pack_bpe_ids" -> packBpeIdsSql,
    "p06_leakage_splits" -> leakageSplitsSql,
    "p05_curriculum_plan" -> curriculumPlanSql,
    "p01_pack_chunks" -> packChunksSql,
    "p02_pack_profile" -> packProfileSql,
    "p03_shard_manifest" -> shardManifestSql,
    "p04_rag_chunks" -> ragChunksSql
  )
}
