package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-repo golden gate (SURVEY.md §5.4): a handful of hash-gated
  * queries are pinned against checked-in sf0.001 outputs, so a plain
  * `sbt test` catches result regressions without the driver's DuckDB
  * loop. Every golden query has a TOTAL ORDER BY, so row order is
  * deterministic.
  *
  * Rendering: every column is `CAST(... AS STRING)` inside Spark
  * (session is UTC), so timestamps/doubles format identically across
  * JVMs; null -> `\N`.
  *
  * Regenerate after an INTENDED semantics change with:
  * {{{ SPARK_GRAFT_REGEN_GOLDEN=1 sbt "testOnly graft.GoldenSpec" }}}
  * which rewrites the `src/test/resources/golden` TSVs (then re-run the
  * DuckDB oracle before trusting the new files).
  */
class GoldenSpec extends AnyFunSuite {
  import TestSpark._

  private val goldenNames = Seq(
    "q01_trips_per_day", "d01_exact_dedup",
    "t03_quality_scores", "w01_tumbling_hourly",
    "r06_asof_join", "s01_cosine_topk",
    // round-5 families: near-dup clustering, packing, IVF search
    "d08_neardup_clusters", "p02_pack_profile", "s07_ivf_search",
    // round-6 families: span dedup, NFC, k-means, shard manifest,
    // PQ, BM25, incremental dedup, z-order layout
    "d12_dup_ngram_spans", "t13_nfc_normalize",
    "km01_kmeans_assign", "p03_shard_manifest",
    "s09_pq_codes", "t14_bm25_rank", "d13_incremental_dedup",
    "c05_zorder_profile",
    // round-7 families: semantic/paragraph dedup, C4+Gopher cleaning,
    // DSIR weights, rerank search, curriculum, frame sampling
    "d14_semantic_dedup", "t16_c4_clean", "t17_gopher_rules",
    "d15_paragraph_dedup", "d16_source_overlap", "s12_coarse_rerank",
    "t18_dsir_weights", "p05_curriculum_plan", "mm05_frame_sample",
    "d17_bloom_increment", "r08_funnel", "r09_retention",
    "t19_cdc_chunks", "km04_elbow_curve", "w11_streaming_quality",
    "p06_leakage_splits", "d18_source_rank",
    "q21_pivot_matrix", "q22_rollup_summary",
    "mm06_audio_resample", "c06_corpus_card", "r10_asof_native",
    "s13_radius_search", "w12_streaming_funnel", "mm07_image_resize",
    "mm02_feature_rollup",
    "c07_incremental_kpis",
    // round-8: native range join, prefix-filtered exact jaccard
    "r11_range_native", "d19_prefix_jaccard",
    // round-11: IVFPQ search, streaming incremental dedup — the last
    // two families from the round-9 "one golden per family" mandate
    "s11_ivfpq_search", "w10_streaming_increment",
    // round-11 kernel reworks: lock the exact-quantile histogram and
    // the inverted-index jaccard pipeline at the golden level too
    "q14_quantiles", "d03_ngram_jaccard",
    // round-12: the streaming semantic gate (deterministic frozen-
    // model verdicts, so golden-able like any batch query)
    "w14_streaming_semantic_gate",
    // round-13: the two round-12 sketch entries that launched without
    // a golden (round-12 verdict "next" 4). Both reduce to exact
    // boolean bands below maxTracked, so they are deterministic at
    // sf0.001 like any batch query.
    "t20_heavy_hitters", "w13_streaming_heavy_hitters",
    // round-13: the BPE family — the merge table IS the trained
    // tokenizer, so pin it (and its application) at the golden level
    "t21_bpe_train", "t22_bpe_encode", "w15_streaming_tokens",
    // round-14: the learned quality classifier — exact integer
    // scoring, so golden-able per doc; ml09's bands lock shape only
    "t23_quality_classifier", "ml09_quality_lr",
    // round-14: per-doc token-id sequence digests
    "t24_bpe_token_ids",
    // the media codec and IVF/PQ kernel owners: every query that calls
    // them is pinned, so a kernel edit is checked by `sbt test` alone
    "mm03_png_roundtrip", "mm04_wav_roundtrip", "s04_ivf_cells",
    "s10_pq_search", "s14_retrieval_e2e", "s15_retrieval_recall",
    "s16_retrieval_artifact", "s17_retrieval_recall_hi")

  private def render(df: DataFrame): Seq[String] = {
    val header = df.columns.mkString("\t")
    val rows = df
      .select(df.columns.map(c => col(c).cast("string")): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t"))
    header +: rows.toSeq
  }

  private val regen = sys.env.contains("SPARK_GRAFT_REGEN_GOLDEN")
  private val srcDir = new java.io.File("src/test/resources/golden")

  goldenNames.foreach { name =>
    test(s"$name matches the checked-in sf0.001 golden output") {
      val lines = render(SparkEntry.queries(name)(spark, sfDir))
      if (regen) {
        srcDir.mkdirs()
        java.nio.file.Files.write(
          new java.io.File(srcDir, s"$name.tsv").toPath,
          lines.mkString("\n").getBytes("UTF-8"))
        info(s"regenerated golden/$name.tsv (${lines.size - 1} rows)")
      } else {
        val in = getClass.getResourceAsStream(s"/golden/$name.tsv")
        assert(in != null, s"missing golden resource for $name — " +
          "run with SPARK_GRAFT_REGEN_GOLDEN=1 once")
        val expected = scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toSeq
        assert(lines.size === expected.size,
          s"row count drifted for $name")
        lines.zip(expected).zipWithIndex.foreach { case ((got, want), i) =>
          assert(got === want, s"$name line $i drifted")
        }
      }
    }
  }
}
