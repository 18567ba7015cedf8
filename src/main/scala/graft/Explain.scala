package graft

/** Plan-audit utility: dumps `explain("formatted")` for the named
  * queries (or a default set of plan-shape-critical ones) so shuffle
  * count, broadcast choice, pushed filters, and codegen spans can be
  * reviewed. Usage: runMain graft.Explain [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_crime_flagship", "q02_pricing_summary", "q03_region_revenue",
        "q20_star_join", "q09_top_orders", "d04_dedup_ngram_jaccard",
        "d05_dedup_embedding", "q34_bucketed_join", "q35_range_join",
        "s01_ann_bruteforce", "q75_concurrency", "q77_cohort_retention",
        "t11_search", "p08_sequence_pack", "q83_custom_source",
        "q90_spj_agg", "q91_spj_join", "q92_scd2_build", "g01_pagerank",
        "g02_triangles", "q100_pit_join", "q101_manifest_skip",
        "q102_resample_ohlc", "d11_sorted_neighborhood", "t12_bpe_pairs",
        "d13_line_dedup", "t13_bpe_train", "q105_runtime_filter",
        "d14_cluster_reps", "q106_merge_into", "q107_version_asof",
        "q110_dml_optimize", "s09_ann_pq", "t15_lm_score",
        "m06_media_dedup", "p10_quality_sample", "s08_ann_selfjoin",
        "s10_ann_ivfpq", "d16_semantic_dedup", "q112_geo_hotspots",
        "q113_geo_radius_join", "q114_geo_nearest_facility",
        "q115_dml_file_skip", "q116_dml_bucket_transform",
        "m07_multimodal_embed", "s11_multimodal_ann",
        "q117_dml_merge_sync", "q118_grouped_pushdown",
        "q119_topn_pushdown", "q120_metadata_columns",
        "q121_dml_subquery", "q122_dml_stats_join", "q123_dml_timestamp_travel", "q124_dml_manifest_count",
        "s12_hard_negatives", "p11_data_card",
        "q125_dml_spec_evolution", "q126_dml_days_transform",
        "q127_dml_history", "q128_dml_wap", "q129_dml_stats_minmax",
        "q130_dml_default_columns", "q131_dml_spj", "q132_dml_ctas",
        "d17_exact_substring", "d18_substring_removal",
        "s13_mmr_diversify", "t17_gopher_rules", "p12_chunk_windows",
        "q133_dml_rename_column", "q134_dml_months_transform",
        "q135_dml_rollback", "t18_dsir_weights", "s14_ann_filtered",
        "d19_containment", "q136_dml_files_table",
        "q137_dml_identity_transform", "q138_dml_tags",
        "q139_dml_partitions_table", "q140_dml_string_skip",
        "s15_ann_filtered_ivf", "q141_dml_procedures",
        "q142_dml_column_skip", "q143_dml_type_widening",
        "q144_dml_merge_evolution", "q145_dml_equality_delete",
        "q146_dml_refs_table", "q147_dml_column_minmax",
        "q148_dml_bloom_skip", "d20_decontaminate", "t19_pii_scrub",
        "q149_dml_rewrite_manifests", "q150_dml_snapshots_table",
        "q151_dml_orphan_cleanup", "q152_dml_cdf_updates",
        "q153_dml_manifests_table", "q154_dml_deletion_vectors",
        "q155_dml_ndv_stats", "q156_dml_add_files",
        "q157_dml_cross_spec_merge", "s16_ann_segment_compact",
        "q158_dml_column_stats_table", "q159_dml_compute_stats",
        "q160_dml_nested_types", "q161_dml_sorted_rewrite",
        "q162_dml_files_dv", "s02_ann_lsh", "s03_ann_ivf",
        "q163_dml_json_shred", "q164_dml_embedding_table",
        "q165_dml_rewrite_deletes", "q166_dml_zorder_rewrite",
        "q167_dml_clustering_quality", "s17_ann_catalog_served",
        "q168_dml_map_table", "q169_dml_map_shred",
        "q170_dml_cherrypick", "q171_dml_incremental_view",
        "s18_ann_range_search", "s19_ann_range_ivf",
        "q172_dml_shallow_clone", "q173_dml_check_constraint",
        "q174_dml_copy_into", "q176_dml_atomic_publish",
        "q177_dml_transaction", "q178_dml_binpack", "s20_ann_graph",
        "q179_dml_row_lineage", "q180_dml_generated_cols",
        "q181_dml_lineage_diff",
        "st42_stream_fuzz_agg", "st43_stream_fuzz_stateless",
        "fz01_fuzz_s1", "fz03_fuzz_s9",
        "dm01_dml_fuzz_cow", "dm02_dml_fuzz_mordv",
        "fw01_fuzz_setop", "fw02_fuzz_window")
    val spark = GraftSession.start()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
