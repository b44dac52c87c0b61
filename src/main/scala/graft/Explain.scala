package graft

/** Dev tool: print the formatted physical plan (and optionally time)
  * for named queries — `runMain graft.Explain <sfDir> <query...>`.
  * Used to audit pushdown, broadcast choice, and codegen spans.
  *
  * `runMain graft.Explain headline` regenerates the per-round plan
  * audit at docs/plans/headline_plans.txt from the curated headline
  * list. (A compiled main, not a REPL session: `typedLit` inside
  * compiled operators trips a REPL-only literal-conversion error, so
  * console-driven explains crash on every two-phase-window query.) */
object Explain {
  /** The queries whose plans the per-round audit reads — the shuffle-
    * heavy and composition queries where a scale regression would
    * hide. */
  val headline: Seq[String] = Seq(
    "q09_monthly_report", "q26_fact_build", "q24_ngram_jaccard_pairs",
    "q23_embedding_neardup", "q25_ann_lsh", "q42_ann_ivf",
    "q43_curated_corpus", "q44_contamination", "q47_dup_components",
    "q48_ann_ivf_kmeans", "q50_curation_lsh", "q53_label_centroids",
    "q54_scd2_history", "q55_fuzzy_join", "q56_range_join",
    "q57_grouped_topk", "q58_semantic_dedup", "q59_shared_shingles",
    "q60_sequence_pack", "q61_curation_funnel", "q64_incremental_pairs",
    "q65_knn_graph", "q67_dataset_build",
    "q70_lm_quality", "q71_token_mixture", "q72_jsonl_roundtrip",
    "q73_span_removal", "q74_epoch_mixture", "q76_ann_int8",
    "q77_ann_ivf_index", "q78_ann_ivf_append", "q79_temperature_mixture",
    "q80_crossdoc_scrub", "q81_leakage_split", "q82_source_overlap",
    "q83_filtered_ann", "q84_bloom_gate", "q85_heavy_hitters",
    "q86_hotcold_join", "q87_corpus_shuffle", "q88_shuffled_pack",
    "q89_incremental_components", "q90_indexed_pairs",
    "q91_canonical_docs", "q92_knn_graph_lsh", "q20_minhash_pairs",
    "q21_simhash_pairs", "q93_quality_classifier",
    "q94_repetition_stats", "q95_shared_line_dedup", "q96_pq_adc",
    "q97_pq_rerank", "q98_pq_append", "q99_ivfpq", "q100_gopher_filter",
    "q101_perplexity_band", "q102_source_gate", "q103_dsir_select",
    "q104_jl_topk", "q105_jl_rerank", "q106_keyword_search",
    "q107_keyword_indexed", "q108_curriculum", "q109_filter_stack",
    "q111_phrase_indexed", "q112_phrase_decon", "q113_hybrid_rrf",
    "q114_vocab_oov", "q117_phrase_scrub", "q119_vocab_encode",
    "q120_cm_freq", "q121_funnel", "q123_pagerank",
    "q124_semantic_decon", "q126_hard_negatives",
    "q127_centroid_outliers", "q128_sorted_neighborhood",
    "q129_length_balance", "q130_dim_moments",
    "q132_neighborhood_dups", "q133_collocations",
    "q134_snapshot_diff", "q135_burst_detect",
    "q136_calibrated_quality", "q137_source_budget",
    "q138_drift_report", "q139_profile", "q140_expectations",
    "q141_group_split", "q142_probe_leakage", "q143_bitext_margin",
    "q144_snapshot_novelty", "q145_whiten_apply", "q146_winnow_fingerprints",
    "q147_triangles", "q148_dedup_weighted_sample", "q149_k_anonymity",
    "q150_cdc_merge", "q151_mad_outliers", "q152_mixed_language",
    "q153_path_trigrams", "q154_equidepth_histogram",
    "q155_source_dup_report", "q156_vocab_coverage", "q157_winnow_pairs",
    "q158_component_churn", "q159_cluster_keywords", "q160_first_carrier",
    "q161_rolling_active", "q162_length_quality_corr",
    "q163_weighted_median", "q164_freeze_digest", "q165_stickiness",
    "q166_gate_matrix", "q167_orc_roundtrip", "q168_zorder_skip",
    "q169_trend_ols", "q170_entropy_gate", "q171_bucketed_join",
    "q172_linkage_score", "q173_agg_state_merge",
    "q174_bootstrap_means", "q175_scd_asof", "q176_schema_evolution",
    "q177_session_window", "q178_theil_sen", "q179_target_encode",
    "q180_auc", "q181_confusion", "q182_ndcg", "q183_cube_report",
    "q184_kendall", "q185_quantile_norm", "q186_cdc_chunks",
    "q187_kendall_scalable", "q188_knn_graph_lsh_scaled",
    "q189_ks_drift", "q190_chi2_tokens", "q191_label_propagation",
    "q192_isotonic_calibration", "q193_autocorr", "q194_modularity",
    "q195_kcore", "q196_seed_expansion", "q197_matryoshka",
    "q198_benford", "q199_changepoint", "q200_gini_concentration",
    "q201_assortativity", "q202_reliability", "q203_rate_significance",
    "q204_coverage", "q205_vocab_overlap", "q206_dedup_savings",
    "q207_containment", "q208_containment_corpus", "q209_excerpt_scrub",
    "q210_containment_words")

  def main(args: Array[String]): Unit = {
    val toFile = args.headOption.contains("headline")
    val sfDir = if (toFile) "/root/testdata/sf0.01"
                else args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (toFile) headline
                else if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local("8")
    val sb = new StringBuilder
    def emit(s: String): Unit = if (toFile) { sb ++= s; sb += '\n' }
                                else println(s)
    names.foreach { n =>
      emit(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      emit(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      emit(f"[time] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (toFile) {
      val out = "docs/plans/headline_plans.txt"
      // plan literals can carry control bytes (the NUL kendall
      // sentinel, tableDigest's SOH separators) — escape them so
      // the committed dump stays text to grep/diff
      val clean = sb.toString.flatMap {
        case c if c < ' ' && c != '\n' && c != '\t' =>
          f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), clean)
      println(s"[explain] wrote ${names.size} plans to $out")
    }
    spark.stop()
  }
}
