package graft

import java.nio.file.{Files, Paths}

/** Dumps explain("formatted") for the headline queries to PLANS.md — the
  * reviewable evidence that pushdown/broadcast/codegen hold (PlanSpec
  * asserts the same properties mechanically).
  *
  * Usage: runMain graft.Explain [sfDir] [outFile]
  */
object Explain {
  val headline = Seq(
    "q_agg", "q_left_join", "q_semi_join", "q_topk_global", "q_pivot",
    "q_window_topk", "dedup_minhash", "dedup_simhash", "ann_topk", "q_asof_join",
    "q_range_join", "q_stream_join", "q_exists_subquery", "dedup_ngram_jaccard",
    "text_langid", "ann_ivf_search", "q_curate", "text_drift", "dedup_novelty",
    "ann_recall_report",
    "q_bm25", "q_tfidf", "q_contamination", "dedup_survivors", "text_repetition",
    "q_window_range", "q_sliding_window", "q_funnel", "dedup_incremental",
    "q_skew_agg", "q_ntile", "text_pii", "text_lm_score",
    "q_retention", "q_profile", "q_pack_chars", "text_chunks",
    "dedup_semantic", "ann_ivfpq_search", "q_gap_fill", "q_scd2",
    "q_histogram", "dedup_spans", "q_anomaly", "q_mix_weights",
    "q_snapshot_diff", "q_stream_dedup", "q_embed_stats", "text_compress",
    "text_compress_bound",
    "text_vocab_oov", "q_source_report", "q_asof_exec",
    "q_star_join", "q_rrf_fusion", "text_pmi", "q_split_leakage",
    "q_stream_left_join", "text_nb_lang", "q_contamination_bloom",
    "multimodal_audio", "dedup_prefix", "q_window_analytics",
    "ann_topk_truncated", "q_session_window", "q_milestones",
    "q_pagerank", "multimodal_gvid_scan", "q_hll_union", "q_hist_view",
    "text_boilerplate", "text_dsir", "q_corpus_overlap", "ann_knn_graph",
    "q_inactivity", "q_burst", "q_first_touch",
    "q_pack_sequences", "split_cluster_safe", "dedup_fuzzy",
    "q_triangles", "q_kcore", "embed_pca_scores", "q_hll_view",
    "q_pack_by_lang", "ann_topk_whitened", "q_mix_expand",
    "q_stream_distinct", "multimodal_image_dedup", "multimodal_audio_dedup",
    "q_merge_intervals", "q_zorder", "q_skyline", "q_decay",
    "q_market_basket", "q_benford", "q_chi2", "q_outlier_mad",
    "q_array_fns", "q_regex_fns",
    "q_bloom_join", "q_acf", "text_heavy_hitters", "text_heavy_hitters_lang",
    "dedup_containment", "text_bpe", "embed_outliers", "text_zipf",
    "q_cusum", "dedup_suffix",
    "q_domain_cap", "q_token_budget", "q_shuffle_shards", "text_readability",
    "q_filter_funnel", "embed_coverage", "text_winnow", "dedup_winnow",
    "q_quarantine", "q_mix_waterfill", "ann_bitext_mine", "q_corpus_build",
    "ann_ivf_drift", "q_stream_ivf_drift", "dedup_policy_gap",
    "q_delete_impact",
    "q_reconcile", "q_delete_apply", "ann_retrain_delta", "q_repack_delta",
    "ann_ivf_search_served", "dedup_artifact_audit",
    "q_manifest_audit", "dedup_hashstore_audit", "q_backfill",
    "ann_pq_search_served", "ann_ivfpq_search_served", "q_sample_ci",
    "q_store_consistency",
    "q_store_repair", "ann_retrain_apply", "ann_layout_audit",
    "ann_codes_audit", "q_maintenance_plan",
    "q_delete_tombstone", "q_delete_economics", "dedup_index_audit",
    "ann_ivfpq_layout_audit", "q_packed_audit", "q_backfill_audit",
    "ann_ivf_search_tombstoned", "q_manifest_served")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Harness.session("graft-explain")
    try {
      val sb = new StringBuilder
      sb ++= "# PLANS — explain(\"formatted\") for headline queries\n\n"
      sb ++= s"Generated by `graft.Explain` over `$sfDir`. Regenerate with\n"
      sb ++= "`sbt \"runMain graft.Explain\"` after plan-affecting changes.\n"
      headline.foreach { name =>
        sb ++= s"\n## $name\n\n```\n"
        sb ++= Harness.planText(SparkEntry.queries(name)(spark, sfDir))
        sb ++= "\n```\n"
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[explain] wrote $out")
    } finally spark.stop()
  }
}
