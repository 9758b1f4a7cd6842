package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.queries.{EmbeddingQueries, Relational, TextQueries}
import graft.similarity.{Pq, Similarity}
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query ids q01–q23 cover SURVEY.md §2.4 Q1–Q22 (the SURVEY's combined
  * "Q14 set ops" is split into q14 INTERSECT / q15 EXCEPT, shifting later
  * ids by one: SURVEY Q15→q16, Q16→q17, Q17→q18, Q18→q19, Q19→q20,
  * Q20→q21, Q21→q22, Q22→q23).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 5-table star join exercises scan, broadcast + shuffle joins, and
    * exact-decimal aggregation in one plan. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q05(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project_limit" -> (Relational.q01 _),
    "q02_filter_agg"         -> (Relational.q02 _),
    "q03_hash_agg"           -> (Relational.q03 _),
    "q04_join_agg"           -> (Relational.q04 _),
    "q05_multijoin"          -> (Relational.q05 _),
    "q06_left_join"          -> (Relational.q06 _),
    "q07_semi_join"          -> (Relational.q07 _),
    "q08_anti_join"          -> (Relational.q08 _),
    "q09_count_distinct"     -> (Relational.q09 _),
    "q10_rollup"             -> (Relational.q10 _),
    "q11_window_rank"        -> (Relational.q11 _),
    "q12_window_running"     -> (Relational.q12 _),
    "q13_topk"               -> (Relational.q13 _),
    "q14_intersect"          -> (Relational.q14 _),
    "q15_except"             -> (Relational.q15 _),
    "q16_string_funcs"       -> (Relational.q16 _),
    "q17_date_funcs"         -> (Relational.q17 _),
    "q18_event_window"       -> (TextQueries.q18 _),
    "q19_wordcount"          -> (TextQueries.q19 _),
    "q20_inverted_index"     -> (TextQueries.q20 _),
    "q21_file_stats"         -> (TextQueries.q21 _),
    "q22_dedup_exact"        -> (TextQueries.q22 _),
    "q23_embed_dim"          -> (EmbeddingQueries.q23 _),
    // —— LLM-data-pipeline operators (SURVEY.md §7.5 north star) ——
    "q24_lang_id"            -> (TextAnalysis.langId _),
    "q25_quality_score"      -> (TextAnalysis.qualityScore _),
    "q26_token_stats"        -> (TextAnalysis.tokenStats _),
    "q27_dedup_fingerprint"  -> (Dedup.fingerprintDups _),
    "q28_dedup_jaccard"      -> ((s, d) => Dedup.jaccardPairs(s, d, 0.8)),
    "q29_dedup_minhash"      -> ((s, d) => Dedup.q29(s, d)),
    "q30_dedup_simhash"      -> ((s, d) => Dedup.simhashPairs(s, d, 3).orderBy("d1", "d2")),
    "q31_embed_neardup"      -> ((s, d) => Similarity.nearDupPairs(s, d, 0.4).orderBy("d1", "d2")),
    "q32_ann_topk"           -> ((s, d) => Similarity.annTopK(s, d)),
    "q33_ann_ivf"            -> ((s, d) => Similarity.annIvf(s, d)),
    "q34_ann_lsh"            -> ((s, d) =>
      Similarity.lshNearDup(s, d, 0.3, tables = 16, bits = 6).orderBy("d1", "d2")),
    "q35_media_meta"         -> (Multimodal.mediaMeta _),
    "q36_media_features"     -> (Multimodal.mediaFeatures _),
    "q37_sessionize"         -> (graft.streaming.EventStreams.q37 _),
    "q38_approx_distinct"    -> (Relational.q38 _),
    "q39_sliding_window"     -> (TextQueries.q39 _),
    "q40_session_window"     -> (TextQueries.q40 _),
    "q41_json_extract"       -> (TextQueries.q41 _),
    "q42_topk_per_key"       -> (graft.functions.TopKAggregator.q42 _),
    "q43_dedup_chargram"     -> ((s, d) => Dedup.charGramJaccardPairs(s, d, 0.8)),
    "q44_curation_pipeline"  -> (graft.queries.Curation.q44 _),
    "q45_train_split"        -> (graft.queries.Curation.q45 _),
    "q46_column_profile"     -> (graft.queries.Curation.q46 _),
    "q47_dedup_verified"     -> ((s, d) =>
      Dedup.minhashVerifiedPairs(s, d, 0.5, 0.7).orderBy("d1", "d2")),
    "q48_kmeans"             -> ((s, d) => graft.similarity.KMeans.q48(s, d)),
    "q49_cube"               -> (Relational.q49 _),
    "q50_ann_ivf_kmeans"     -> ((s, d) => Similarity.annIvfKmeans(s, d)),
    "q51_percentiles"        -> (Relational.q51 _),
    "q52_asof_join"          -> (graft.queries.Advanced.q52 _),
    "q53_range_join"         -> (graft.queries.Advanced.q53 _),
    "q54_grouping_sets"      -> (graft.queries.Advanced.q54 _),
    "q55_pivot"              -> (graft.queries.Advanced.q55 _),
    "q56_lag_lead"           -> (graft.queries.Advanced.q56 _),
    "q57_distribution"       -> (graft.queries.Advanced.q57 _),
    "q58_scalar_subquery"    -> (graft.queries.Advanced.q58 _),
    "q59_multiset_ops"       -> (graft.queries.Advanced.q59 _),
    "q60_approx_percentiles" -> (Relational.q60 _),
    "q61_distribution_scaled" -> (graft.queries.Advanced.q61 _),
    "q62_json_schema"        -> (TextQueries.q62 _),
    "q63_ann_ivf_multiprobe" -> ((s, d) => Similarity.annIvfKmeans(s, d, nprobe = 3)),
    "q64_interval_join"      -> (graft.streaming.EventStreams.q64 _),
    "q65_winnow_containment" -> ((s, d) => Dedup.winnowPairs(s, d).orderBy("d1", "d2")),
    "q66_dedup_clusters"     -> (graft.dedup.Components.q66 _),
    "q67_embed_quantize"     -> (EmbeddingQueries.q67 _),
    "q68_freq_items"         -> (graft.queries.Curation.q68 _),
    "q69_frame_sample"       -> ((s, d) => Multimodal.frameSample(s, d)),
    "q70_stratified_sample"  -> (graft.queries.Curation.q70 _),
    "q71_media_resize"       -> ((s, d) => Multimodal.resize(s, d)),
    "q72_doc_chunks"         -> ((s, d) => TextQueries.q72(s, d)),
    "q73_tfidf"              -> (graft.queries.Ranking.q73 _),
    "q74_bm25"               -> ((s, d) => graft.queries.Ranking.q74(s, d)),
    "q75_bigrams"            -> (TextQueries.q75 _),
    "q76_ann_recall"         -> ((s, d) => Similarity.q76(s, d)),
    "q77_compress_ratio"     -> ((s, d) => graft.text.TextAnalysis.compressionStats(s, d)),
    "q78_nfc_normalize"      -> (graft.text.TextAnalysis.nfcStats _),
    "q79_inverted_index_capped" -> ((s, d) => TextQueries.q79(s, d)),
    "q80_passage_dedup"      -> ((s, d) => graft.queries.Curation.q80(s, d)),
    "q81_wordcount_unicode"  -> (TextQueries.q81 _),
    "q83_percentiles_scaled" -> (Relational.q83 _),
    "q84_stream_dedup"       -> (graft.streaming.EventStreams.q84 _),
    "q85_media_decode"       -> ((s, d) => Multimodal.q85(s, d)),
    "q82_inverted_index_unicode" -> (TextQueries.q82 _),
    "q86_decontaminate"      -> ((s, d) => graft.text.Decontaminate.q86(s, d)),
    "q87_pack_sequences"     -> ((s, d) => graft.queries.Curation.q87(s, d)),
    "q88_source_mix"         -> ((s, d) => graft.queries.Curation.q88(s, d)),
    "q89_repetition"         -> (graft.text.TextAnalysis.repetitionStats _),
    "q90_incremental_dedup"  -> ((s, d) => Dedup.q90(s, d)),
    "q91_stream_static_join" -> (graft.streaming.EventStreams.q91 _),
    "q92_label_centroids"    -> (EmbeddingQueries.q92 _),
    "q93_source_divergence"  -> (graft.text.TextAnalysis.sourceDivergence _),
    "q94_lm_score"           -> ((s, d) => graft.queries.Ranking.q94(s, d)),
    "q95_corpus_card"        -> (graft.queries.Curation.q95 _),
    "q96_rrf_fusion"         -> ((s, d) => graft.queries.Ranking.q96(s, d)),
    "q97_stream_ingest_dedup" -> (graft.streaming.EventStreams.q97 _),
    "q98_anomaly_hours"      -> (TextQueries.q98 _),
    "q99_cohort_retention"   -> (TextQueries.q99 _),
    "q100_training_manifest" -> ((s, d) => graft.queries.Curation.q100(s, d)),
    "q101_funnel"            -> (TextQueries.q101 _),
    "q102_session_paths"     -> ((s, d) => TextQueries.q102(s, d)),
    "q103_manifest_neardup"  -> ((s, d) => graft.queries.Curation.q103(s, d)),
    "q104_lm_score_skew"     -> ((s, d) => graft.queries.Ranking.q104(s, d)),
    "q105_semantic_dedup"    -> ((s, d) => Similarity.q105(s, d)),
    "q106_incremental_neardup" -> ((s, d) => Dedup.q106(s, d)),
    "q107_perplexity_budget" -> ((s, d) => graft.queries.Curation.q107(s, d)),
    "q109_bloom_dedup"       -> ((s, d) => Dedup.q109(s, d)),
    "q110_incremental_manifest" -> ((s, d) => graft.queries.Curation.q110(s, d)),
    "q108_unpivot"           -> (graft.queries.Advanced.q108 _),
    "q111_semantic_dedup_lsh" -> ((s, d) => Similarity.q111(s, d)),
    "q112_image_neardup"     -> ((s, d) => Multimodal.q112(s, d)),
    "q113_line_dedup"        -> ((s, d) => graft.queries.Curation.q113(s, d)),
    "q114_pii_redact"        -> ((s, d) => graft.text.TextAnalysis.q114(s, d)),
    "q115_shuffled_pack"     -> ((s, d) => graft.queries.Curation.q115(s, d)),
    "q116_seq_manifest"      -> ((s, d) => graft.queries.Curation.q116(s, d)),
    "q117_chunk_stride"      -> ((s, d) => graft.text.TextAnalysis.q117(s, d)),
    "q118_strat_sample"      -> ((s, d) => graft.functions.TopKAggregator.q118(s, d)),
    "q119_sparse_neardup"    -> ((s, d) => graft.queries.Ranking.q119(s, d)),
    "q120_vocab_coverage"    -> ((s, d) => graft.text.TextAnalysis.q120(s, d)),
    "q121_source_simmatrix"  -> (graft.text.TextAnalysis.q121 _),
    "q122_cluster_histogram" -> (graft.dedup.Components.q122 _),
    "q123_pack_efficiency"   -> ((s, d) => graft.queries.Curation.q123(s, d)),
    "q124_incr_sparse_neardup" -> ((s, d) => graft.queries.Ranking.q124(s, d)),
    "q125_effective_mix"     -> (graft.dedup.Components.q125 _),
    "q126_classifier_filter" -> ((s, d) => graft.text.Classifier.q126(s, d)),
    "q127_source_cap"        -> ((s, d) => graft.text.Classifier.q127(s, d)),
    "q128_mixture_plan"      -> ((s, d) => graft.text.Classifier.q128(s, d)),
    "q129_doc_pagerank"      -> ((s, d) => graft.queries.GraphRank.q129(s, d)),
    "q130_adaptive_length"   -> ((s, d) => graft.text.TextAnalysis.q130(s, d)),
    "q131_knn_graph"         -> ((s, d) => graft.queries.Ranking.q131(s, d)),
    "q132_novelty"           -> ((s, d) => graft.text.TextAnalysis.q132(s, d)),
    "q133_zorder_layout"     -> ((s, d) => graft.queries.Layout.q133(s, d)),
    "q134_scd2_merge"        -> ((s, d) => graft.queries.Layout.q134(s, d)),
    "q135_temperature_sample" -> ((s, d) => graft.queries.Curation.q135(s, d)),
    "q136_entity_resolution" -> ((s, d) => graft.queries.Advanced.q136(s, d)),
    "q137_random_projection" -> ((s, d) => Similarity.q137(s, d)),
    "q138_kneser_ney"        -> ((s, d) => graft.queries.Ranking.q138(s, d)),
    "q139_span_dedup"        -> ((s, d) => graft.text.TextAnalysis.q139(s, d)),
    "q140_snapshot_diff"     -> ((s, d) => graft.queries.Layout.q140(s, d)),
    "q141_split_leakage"     -> ((s, d) => graft.text.Decontaminate.q141(s, d)),
    "q142_crossdoc_spans"    -> ((s, d) => graft.text.TextAnalysis.q142(s, d)),
    "q143_countmin"          -> ((s, d) => graft.queries.Curation.q143(s, d)),
    "q144_dsir_weights"      -> ((s, d) => graft.text.Classifier.q144(s, d)),
    "q145_bpe_merges"        -> ((s, d) => graft.text.Bpe.q145(s, d)),
    "q146_kn_perplexity"     -> ((s, d) => graft.queries.Ranking.q146(s, d)),
    "q147_gopher_rules"      -> ((s, d) => graft.text.TextAnalysis.q147(s, d)),
    "q148_incremental_sketch" -> ((s, d) => graft.queries.Curation.q148(s, d)),
    "q149_kmv_distinct"      -> ((s, d) => graft.functions.TopKAggregator.q149(s, d)),
    "q150_kmv_setops"        -> ((s, d) => graft.functions.TopKAggregator.q150(s, d)),
    "q151_cms_joinsize"      -> ((s, d) => graft.queries.Curation.q151(s, d)),
    "q152_triangles"         -> ((s, d) => graft.queries.Ranking.q152(s, d)),
    "q153_trustrank"         -> ((s, d) => graft.queries.GraphRank.q153(s, d)),
    "q154_local_clustering"  -> ((s, d) => graft.queries.Ranking.q154(s, d)),
    "q155_length_histogram"  -> ((s, d) => graft.text.TextAnalysis.q155(s, d)),
    "q156_hist_quantiles"    -> (Relational.q156(_, _)),
    "q157_zipf_slope"        -> ((s, d) => graft.text.TextAnalysis.q157(s, d)),
    "q158_heaps_law"         -> ((s, d) => graft.text.TextAnalysis.q158(s, d)),
    "q159_manifest_multimodal" -> ((s, d) => graft.queries.Curation.q159(s, d)),
    "q160_incremental_pagerank" -> ((s, d) => graft.queries.GraphRank.q160(s, d)),
    "q161_bucket_join"       -> ((s, d) => graft.queries.Layout.q161(s, d)),
    "q162_constraint_audit"  -> ((s, d) => graft.queries.Audit.q162(s, d)),
    "q163_kcore"             -> ((s, d) => graft.queries.GraphRank.q163(s, d)),
    "q164_pq_recall"         -> ((s, d) => Pq.q164(s, d)),
    "q165_bpe_encode"        -> ((s, d) => graft.text.Bpe.q165(s, d)),
    "q166_audio_features"    -> ((s, d) => Multimodal.q166(s, d)),
    "q167_ivfpq_recall"      -> ((s, d) => Pq.q167(s, d)),
    "q177_ivfpq_ingest"      -> ((s, d) => Pq.q177(s, d)),
    "q168_audio_neardup"     -> ((s, d) => Multimodal.q168(s, d)),
    "q169_prefix_jaccard"    -> ((s, d) => Dedup.prefixJaccardPairs(s, d, 0.8)),
    "q170_prefix_chargram"   -> ((s, d) => Dedup.prefixCharGramJaccardPairs(s, d, 0.8)),
    "q171_partition_pruning" -> ((s, d) => graft.queries.Layout.q171(s, d)),
    "q172_manifest_trimodal" -> ((s, d) => graft.queries.Curation.q172(s, d)),
    "q173_shard_balance"     -> ((s, d) => graft.queries.Layout.q173(s, d)),
    "q174_pii_scrub"         -> ((s, d) => graft.text.TextAnalysis.q174(s, d)),
    "q175_leakproof_split"   -> ((s, d) => graft.queries.Curation.q175(s, d)),
    "q176_pii_pseudonymize"  -> ((s, d) => graft.text.TextAnalysis.q176(s, d)),
    "q178_epoch_loader"      -> ((s, d) => graft.queries.Layout.q178(s, d)),
    "q179_takedown_keepers"  -> ((s, d) => graft.queries.Takedown.q179(s, d)),
    "q180_takedown_audit"    -> ((s, d) => graft.queries.Takedown.q180(s, d)),
    "q181_subject_erasure"   -> ((s, d) => graft.queries.Takedown.q181(s, d)),
    "q182_subject_takedown"  -> ((s, d) => graft.queries.Takedown.q182(s, d)),
    "q183_hard_negatives"    -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q184_hard_negatives_ivf" -> ((s, d) => Similarity.hardNegativesIvf(s, d)),
    "q185_scd2_asof_read"    -> ((s, d) => graft.queries.Layout.q185(s, d)),
    "q186_cascade_erasure"   -> ((s, d) => graft.queries.Takedown.q186(s, d)),
    "q187_shard_checksums"   -> ((s, d) => graft.queries.Layout.q187(s, d)),
    "q188_incr_checksums"    -> ((s, d) => graft.queries.Layout.q188(s, d)),
    "q189_retention_sweep"   -> (graft.streaming.EventStreams.q189 _),
    "q190_filtered_ann"      -> ((s, d) => Similarity.filteredAnn(s, d)),
    "q191_drift_psi"         -> ((s, d) => graft.queries.Audit.q191(s, d)),
    "q192_priority_sample"   -> ((s, d) => graft.queries.Curation.q192(s, d)),
    "q193_compaction_plan"   -> ((s, d) => graft.queries.Layout.q193(s, d)),
    "q194_crossmodal_align"  -> ((s, d) => Multimodal.q194(s, d)),
    "q195_observed_metrics"  -> ((s, d) => graft.queries.Audit.q195(s, d)),
    "q196_incr_compaction"   -> ((s, d) => graft.queries.Layout.q196(s, d)),
    "q197_variant_props"     -> ((s, d) => graft.queries.Advanced.q197(s, d)),
    "q198_recursive_cte"     -> ((s, d) => graft.queries.Advanced.q198(s, d)),
    "q199_attrib_outer"      -> (graft.streaming.EventStreams.q199 _),
    "q200_release_signoff"   -> ((s, d) => graft.queries.Audit.q200(s, d)),
    "q201_bloom_join"        -> ((s, d) => graft.queries.Layout.q201(s, d)),
    "q202_label_prop"        -> ((s, d) => graft.queries.GraphRank.q202(s, d)),
    "q203_secondary_sort"    -> ((s, d) => graft.queries.Advanced.q203(s, d)),
    "q204_kcenter_coreset"   -> ((s, d) => Similarity.q204(s, d)),
    "q205_schema_evolution"  -> (graft.sources.Formats.q205 _),
    "q206_decayed_ranking"   -> (TextQueries.q206 _),
    "q207_cogroup_reconcile" -> ((s, d) => graft.queries.Advanced.q207(s, d)),
    "q208_quota_sample"      -> ((s, d) => graft.queries.Curation.q208(s, d)),
    "q209_editdist_dedup"    -> ((s, d) => Dedup.q209(s, d)),
    "q210_pmi_collocations"  -> ((s, d) => graft.queries.Ranking.q210(s, d)),
    "q211_lateral_topn"      -> ((s, d) => graft.queries.Advanced.q211(s, d)),
    "q212_robust_outliers"   -> (TextQueries.q212 _),
    "q213_embedding_drift"   -> (EmbeddingQueries.q213 _),
    "q214_range_frame"       -> (TextQueries.q214 _),
    "q215_activity_streaks"  -> (TextQueries.q215 _),
    "q216_assoc_rules"       -> (TextQueries.q216 _),
    "q217_growth_accounting" -> (TextQueries.q217 _),
    "q218_incremental_lpa"   -> ((s, d) => graft.queries.GraphRank.q218(s, d)),
    "q219_video_keyframes"   -> ((s, d) => Multimodal.q219(s, d)),
    "q220_erase_fp_store"    -> ((s, d) => graft.queries.Erasure.q220(s, d)),
    "q221_erase_neardup_index" -> ((s, d) => graft.queries.Erasure.q221(s, d)),
    "q222_erase_ivfpq"       -> ((s, d) => Pq.q222(s, d)),
    "q223_erase_lpa"         -> ((s, d) => graft.queries.Erasure.q223(s, d)),
    "q224_deletion_vectors"  -> ((s, d) => graft.queries.Layout.q224(s, d)),
    "q225_erasure_certificate" -> ((s, d) => graft.queries.Erasure.q225(s, d)),
    "q226_hits"              -> ((s, d) => graft.queries.GraphRank.q226(s, d)),
    "q227_seed_distance"     -> ((s, d) => graft.queries.GraphRank.q227(s, d)),
    "q228_feature_corr"      -> ((s, d) => graft.queries.Audit.q228(s, d)),
    "q229_mix_diversity"     -> ((s, d) => graft.queries.Audit.q229(s, d)),
    "q230_rr_private_hist"   -> ((s, d) => graft.queries.Privacy.q230(s, d)),
    "q231_k_anonymity"       -> ((s, d) => graft.queries.Privacy.q231(s, d)),
    "q232_skyline"           -> ((s, d) => graft.queries.Advanced.q232(s, d)),
    "q233_bootstrap_ci"      -> ((s, d) => graft.queries.Advanced.q233(s, d)),
    "q234_benford_audit"     -> ((s, d) => graft.queries.Stats.q234(s, d)),
    "q235_survival_km"       -> ((s, d) => graft.queries.Stats.q235(s, d)),
    "q236_ab_test"           -> ((s, d) => graft.queries.Stats.q236(s, d)),
    "q237_cuped"             -> ((s, d) => graft.queries.Stats.q237(s, d)),
    "q238_mann_whitney"      -> ((s, d) => graft.queries.Stats.q238(s, d)),
    "q239_classifier_auc"    -> ((s, d) => graft.text.Classifier.q239(s, d)),
    "q240_reliability"       -> ((s, d) => graft.text.Classifier.q240(s, d)),
    "q241_item_cf"           -> ((s, d) => graft.queries.Recommend.q241(s, d)),
    "q242_seasonal_decomp"   -> ((s, d) => graft.queries.Stats.q242(s, d)),
    "q243_license_contagion" -> ((s, d) => graft.queries.Takedown.q243(s, d)),
    "q244_incr_item_cf"      -> ((s, d) => graft.queries.Recommend.q244(s, d)),
    "q245_wasserstein_drift" -> ((s, d) => graft.queries.Stats.q245(s, d)),
    "q246_ks_test"           -> ((s, d) => graft.queries.Stats.q246(s, d)),
    "q247_durable_cf_restart" -> ((s, d) => graft.queries.Recommend.q247(s, d)),
    "q248_erase_cf_state"    -> ((s, d) => graft.queries.Erasure.q248(s, d)),
    "q249_durable_lpa_restart" -> ((s, d) => graft.queries.GraphRank.q249(s, d)),
    "q250_durable_chain"     -> ((s, d) => graft.queries.Recommend.q250(s, d)),
    "q251_retrieval_eval"    -> ((s, d) => graft.queries.Eval.q251(s, d)),
    "q252_chi_square"        -> ((s, d) => graft.queries.Eval.q252(s, d)),
    "q253_gini_tokens"       -> ((s, d) => graft.queries.Eval.q253(s, d)),
    "q254_cusum_drift"       -> ((s, d) => graft.queries.Eval.q254(s, d)),
    "q255_simpson_audit"     -> ((s, d) => graft.queries.Eval.q255(s, d)),
    "q256_jackknife_ratio"   -> ((s, d) => graft.queries.Eval.q256(s, d)),
    "q257_rbo_drift"         -> ((s, d) => graft.queries.Eval.q257(s, d)),
    "q258_calibration_ece"   -> ((s, d) => graft.queries.Eval.q258(s, d)),
    "q259_erase_commit"      -> ((s, d) => graft.queries.Erasure.q259(s, d)),
    "q260_erase_commit_fp"   -> ((s, d) => graft.queries.Erasure.q260(s, d)),
    "q261_erase_commit_band" -> ((s, d) => graft.queries.Erasure.q261(s, d)),
    "q262_erase_commit_graph" -> ((s, d) => graft.queries.Erasure.q262(s, d)),
    "q263_erase_commit_ivfpq" -> ((s, d) => Pq.q263(s, d)),
    "q264_erase_commit_certificate" ->
      ((s, d) => graft.queries.Erasure.q264(s, d)),
    "q265_cas_ingest_chain"  -> ((s, d) => graft.queries.Recommend.q265(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val m = baseOracleSql
    // The prefix-filtered joins are LOSSLESS (completeness theorem at
    // Dedup.prefixJaccardFromSets), so their oracles ARE the quadratic
    // verifiers' oracles — sharing the string states the equality.
    m ++ Map(
      "q169_prefix_jaccard" -> m("q28_dedup_jaccard"),
      "q170_prefix_chargram" -> m("q43_dedup_chargram"),
      // q247 serves q244's ingest from RELOADED durable parquet — the
      // ledger is defined to be identical (restart ≡ continuous, proven
      // frame-by-frame in DurableStateSpec); sharing the monolithic
      // oracle string states that equality. q249 is the same move on
      // the graph tier (q218's ingest from the reloaded spill).
      "q247_durable_cf_restart" -> m("q244_incr_item_cf"),
      "q249_durable_lpa_restart" -> m("q218_incremental_lpa"))
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q01_scan_project_limit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin,
    "q02_filter_agg" ->
      """SELECT COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q03_hash_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_base,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_disc_price
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q04_join_agg" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "q05_multijoin" ->
      """SELECT n.n_name, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l.l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "q06_left_join" ->
      """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey HAVING COUNT(o.o_orderkey) = 0
        |ORDER BY c.c_custkey""".stripMargin,
    "q07_semi_join" ->
      """SELECT COUNT(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,
    "q08_anti_join" ->
      """SELECT p.p_partkey FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey""".stripMargin,
    "q09_count_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS parts, COUNT(DISTINCT l_suppkey) AS supps
        |FROM lineitem""".stripMargin,
    "q10_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g2,
        |  COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY g1, g2, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q11_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q12_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS run
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q13_topk" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "q14_intersect" ->
      """SELECT k FROM ((SELECT o_custkey AS k FROM orders)
        |  INTERSECT (SELECT c_custkey FROM customer))
        |ORDER BY k LIMIT 50""".stripMargin,
    "q15_except" ->
      """SELECT k FROM ((SELECT c_custkey AS k FROM customer)
        |  EXCEPT (SELECT o_custkey FROM orders))
        |ORDER BY k""".stripMargin,
    "q16_string_funcs" ->
      """SELECT p_partkey, UPPER(p_brand) AS b,
        |  CAST(LENGTH(p_name) AS INTEGER) AS len,
        |  SUBSTR(p_type, 1, 5) AS t5,
        |  CONCAT(p_brand, '#', CAST(p_size AS VARCHAR)) AS tag
        |FROM part WHERE p_name LIKE '%blue%' OR p_type LIKE 'SMALL%'
        |ORDER BY p_partkey""".stripMargin,
    "q17_date_funcs" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "q18_event_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    "q19_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin,
    "q20_inverted_index" ->
      """SELECT word, COUNT(DISTINCT doc_id) AS n_docs,
        |  array_to_string(list_sort(list(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS docs
        |FROM (
        |  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word LIMIT 200""".stripMargin,
    "q21_file_stats" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q22_dedup_exact" ->
      """SELECT h, COUNT(*) AS dups FROM (SELECT MD5(text) AS h FROM documents)
        |GROUP BY h HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,
    "q23_embed_dim" ->
      """SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim
        |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin,
    "q24_lang_id" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> '') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(tk, w -> w IN ('the','and','of','to','in','is','a'))) AS INTEGER) AS en_score,
        |  CAST(len(list_filter(tk, w -> w IN ('der','die','das','und','ein','nicht'))) AS INTEGER) AS de_score,
        |  CAST(len(list_filter(tk, w -> w IN ('le','la','les','et','des','un'))) AS INTEGER) AS fr_score,
        |  CAST(len(list_filter(tk, w -> w IN ('el','los','las','y','una','que'))) AS INTEGER) AS es_score,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS INTEGER) AS zh_score
        |FROM d)
        |SELECT doc_id, lang, en_score, de_score, fr_score, es_score, zh_score,
        |  CASE WHEN zh_score > en_score + de_score + fr_score + es_score THEN 'zh'
        |       WHEN en_score >= greatest(de_score, fr_score, es_score) THEN 'en'
        |       WHEN de_score >= greatest(fr_score, es_score) THEN 'de'
        |       WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS pred
        |FROM s ORDER BY doc_id""".stripMargin,
    "q25_quality_score" ->
      """WITH d AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> '') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(tk) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(tk)) AS INTEGER) AS n_types,
        |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS INTEGER) AS alpha_chars,
        |  CAST(length(text) AS INTEGER) AS len,
        |  CAST(len(list_filter(tk, w -> w IN ('the','and','of','to','in','is','a'))) AS INTEGER) AS stop_hits
        |FROM d)
        |SELECT doc_id, n_tokens, n_types,
        |  ROUND(CAST(alpha_chars AS DOUBLE) / len, 4) AS alpha_ratio,
        |  ROUND(CAST(alpha_chars AS DOUBLE) / n_tokens, 4) AS avg_token_len,
        |  ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stop_ratio
        |FROM s ORDER BY doc_id""".stripMargin,
    "q26_token_stats" ->
      """WITH d AS (SELECT source,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re
        |FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(re) AS BIGINT) AS re_tokens,
        |  ROUND(CAST(SUM(ws) AS DOUBLE) / COUNT(*), 4) AS avg_ws_tokens
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q27_dedup_fingerprint" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id)
        |SELECT fp, COUNT(*) AS n_docs,
        |  array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS docs
        |FROM f GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,
    "q28_dedup_jaccard" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
        |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |  FROM ix JOIN sz s1 ON s1.doc_id = ix.d1 JOIN sz s2 ON s2.doc_id = ix.d2)
        |WHERE jaccard >= 0.8 ORDER BY d1, d2""".stripMargin,
    "q35_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin,
    "q37_sessionize" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |x AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS nsess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |  CAST(SUM(nsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "q39_sliding_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |c AS (SELECT ts, event_type, value,
        |  UNNEST([epoch_us(ts) // 1800000000 * 1800000000,
        |          epoch_us(ts) // 1800000000 * 1800000000 - 1800000000]) AS ws
        |  FROM e)
        |SELECT make_timestamp(ws) AS w, event_type, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS v
        |FROM c WHERE epoch_us(ts) >= ws AND epoch_us(ts) < ws + 3600000000
        |GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    "q40_session_window" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |x AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS nsess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |  CAST(SUM(nsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end,
        |  user_id, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "q41_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS v
        |FROM events GROUP BY k ORDER BY k""".stripMargin,
    "q62_json_schema" ->
      """SELECT COALESCE(CAST(json_extract(props, '$.k') AS INTEGER) % 10, -1)
        |    AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS v
        |FROM events GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,
    "q42_topk_per_key" ->
      """WITH dc AS (SELECT word, doc_id, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY word, doc_id),
        |r AS (SELECT word, doc_id, cnt,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY cnt DESC, doc_id) AS INTEGER) AS rank
        |  FROM dc)
        |SELECT word, rank, doc_id, cnt FROM r WHERE rank <= 3
        |ORDER BY word, rank""".stripMargin,
    "q43_dedup_chargram" ->
      """WITH t AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS s
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct([substr(s, i, 5) for i in range(1, length(s) - 3)]) AS items
        |  FROM t WHERE length(s) >= 5),
        |w AS (SELECT doc_id, UNNEST(items) AS item FROM g),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
        |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM w a JOIN w b ON a.item = b.item AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |  FROM ix JOIN sz s1 ON s1.doc_id = ix.d1 JOIN sz s2 ON s2.doc_id = ix.d2)
        |WHERE jaccard >= 0.8 ORDER BY d1, d2""".stripMargin,
    "q44_curation_pipeline" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |keep AS (SELECT doc_id FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM f) WHERE rn = 1),
        |q AS (SELECT d.doc_id, d.source, d.text,
        |    list_filter(string_split_regex(lower(d.text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(d.text), '[^a-z]', '', 'g')) AS alpha,
        |    length(d.text) AS len
        |  FROM documents d JOIN keep USING (doc_id)),
        |filt AS (SELECT * FROM q
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10),
        |s AS (SELECT source, CAST(len(tk) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','a'))) AS INTEGER) AS en_score,
        |  CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ein','nicht'))) AS INTEGER) AS de_score,
        |  CAST(len(list_filter(tk, x -> x IN ('le','la','les','et','des','un'))) AS INTEGER) AS fr_score,
        |  CAST(len(list_filter(tk, x -> x IN ('el','los','las','y','una','que'))) AS INTEGER) AS es_score,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS INTEGER) AS zh_score
        |  FROM filt)
        |SELECT CASE WHEN zh_score > en_score + de_score + fr_score + es_score THEN 'zh'
        |            WHEN en_score >= greatest(de_score, fr_score, es_score) THEN 'en'
        |            WHEN de_score >= greatest(fr_score, es_score) THEN 'de'
        |            WHEN fr_score >= es_score THEN 'fr' ELSE 'es' END AS pred,
        |  source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
        |FROM s GROUP BY 1, 2 ORDER BY pred, source""".stripMargin,
    "q31_embed_neardup" ->
      // deterministic double arithmetic end-to-end (normalize → fused
      // left-to-right dot → round): DuckDB's in-order list_sum reproduces
      // the native expression bit-for-bit, so the exact verifier carries
      // a cross-engine oracle despite being "floating point".
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n)
        |SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  ROUND(list_sum(list_transform(range(1, len(a.u) + 1),
        |                                i -> a.u[i] * b.u[i])), 4) AS sim
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_sum(list_transform(range(1, len(a.u) + 1),
        |                                    i -> a.u[i] * b.u[i])), 4) >= 0.4
        |ORDER BY d1, d2""".stripMargin,
    "q32_ann_topk" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
        |s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    ROUND(list_sum(list_transform(range(1, len(q.u) + 1),
        |                                  i -> q.u[i] * c.u[i])), 4) AS sim
        |  FROM u q JOIN u c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT q_id, n_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
        |  FROM s)
        |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q33_ann_ivf" ->
      // whole IVF path is deterministic doubles now (decimal per-dim
      // centroid sums + in-order cosine sums) — cross-engine checkable
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT label, gs.i AS pos, v[gs.i] AS x
        |  FROM v, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) gs),
        |cd AS (
        |  SELECT label AS cell, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS m
        |  FROM d GROUP BY label, pos),
        |cent AS (
        |  SELECT cell, list(m ORDER BY pos) AS centroid FROM cd GROUP BY cell),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < 10),
        |qa AS (
        |  SELECT q_id, qv, cell, row_number() OVER (PARTITION BY q_id ORDER BY
        |    (list_sum(list_transform(range(1, len(qv) + 1),
        |                             i -> qv[i] * centroid[i]))
        |     / (sqrt(list_sum(list_transform(qv, x -> x * x)))
        |      * sqrt(list_sum(list_transform(centroid, x -> x * x)))))
        |    DESC, cell) AS rnk
        |  FROM q, cent),
        |probe AS (SELECT q_id, qv, cell FROM qa WHERE rnk = 1),
        |cand AS (
        |  SELECT p.q_id, c.vec_id AS n_id,
        |    ROUND(list_sum(list_transform(range(1, len(p.qv) + 1),
        |                                  i -> p.qv[i] * c.v[i]))
        |     / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
        |      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 4) AS sim
        |  FROM probe p JOIN v c ON c.label = p.cell AND c.vec_id <> p.q_id),
        |r AS (SELECT q_id, n_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
        |  FROM cand)
        |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q36_media_features" ->
      // the stub features are a deterministic byte histogram (bytes mod 8
      // over the UTF-8 payload, float-divided by length) — for this
      // all-ASCII corpus that is exactly ascii(char) % 8, and DuckDB's
      // FLOAT cast reproduces the single-precision division bit-for-bit,
      // so even the "stub" decode is oracle-checked end to end.
      """WITH b AS (
        |  SELECT doc_id AS media_id, length(text) AS n,
        |    unnest(list_transform(range(1, length(text) + 1),
        |                          i -> ascii(substring(text, i, 1)) % 8)) AS bk
        |  FROM documents WHERE length(text) > 0)
        |SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
        |  ROUND(CAST(CAST(SUM(CASE WHEN bk = 0 THEN 1 ELSE 0 END) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 4) AS f0,
        |  ROUND(CAST(CAST(SUM(CASE WHEN bk = 1 THEN 1 ELSE 0 END) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 4) AS f1,
        |  ROUND(CAST(CAST(SUM(CASE WHEN bk = 2 THEN 1 ELSE 0 END) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 4) AS f2,
        |  ROUND(CAST(CAST(SUM(CASE WHEN bk = 3 THEN 1 ELSE 0 END) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 4) AS f3
        |FROM b GROUP BY media_id, n ORDER BY media_id""".stripMargin,
    "q45_train_split" ->
      """SELECT CASE WHEN (doc_id * 48271) % 2147483647 % 100 < 90
        |            THEN 'train' ELSE 'valid' END AS split,
        |  source, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    // q47 was rows-only until round 6: under the spec-asserted
    // LSH-recall-1 premise (ManifestSpec, both gate SFs) the verified
    // pair set AND its exact jaccard values equal all-pairs
    // string-shingle Jaccard — so the full output carries an oracle
    // q29 graduated (round 7): banded candidates verified with EXACT
    // shingle jaccard, exact value presented — under the spec-asserted
    // banding-recall-1 premise the set equals exact all-pairs at 0.7,
    // the same oracle as q47 (whose est pre-filter changes nothing under
    // the premise; the two queries' oracle twins are intentionally
    // identical, like q90/q109).
    "q29_dedup_minhash" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |FROM ipair
        |JOIN ssz s1 ON s1.doc_id = ipair.d1
        |JOIN ssz s2 ON s2.doc_id = ipair.d2
        |WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7
        |ORDER BY d1, d2""".stripMargin,
    "q47_dedup_verified" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) AS jaccard
        |FROM ipair
        |JOIN ssz s1 ON s1.doc_id = ipair.d1
        |JOIN ssz s2 ON s2.doc_id = ipair.d2
        |WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7
        |ORDER BY d1, d2""".stripMargin,
    // q66 likewise (round 6): exact pairs + recursive-CTE reachability
    // reproduce the verified-pair clusters end-to-end (the q105 pattern)
    "q66_dedup_clusters" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id)
        |SELECT comp AS keeper_doc, CAST(COUNT(*) AS INTEGER) AS n_docs,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR))
        |    AS docs
        |FROM lab GROUP BY comp ORDER BY keeper_doc""".stripMargin,
    "q46_column_profile" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS "column", COUNT(*) AS n, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct, MIN($c) AS min_v, MAX($c) AS max_v,
           |  ROUND(CAST(SUM(CAST($c AS DECIMAL(12,4))) AS DOUBLE) / COUNT($c), 4) AS mean_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")),
    "q49_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g2,
        |  COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY g1, g2, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q51_percentiles" ->
      """SELECT l_returnflag,
        |  ls[CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT)] AS p50,
        |  ls[CAST(ceil(n * CAST(0.95 AS DOUBLE)) AS BIGINT)] AS p95
        |FROM (SELECT l_returnflag, list_sort(list(l_extendedprice)) AS ls,
        |        COUNT(*) AS n
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q52_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  c.click_id AS asof_click_id, c.ts AS asof_click_ts
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q64_interval_join" ->
      """WITH c AS (SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts,
        |    user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |    user_id FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id AS user_id, purchase_id, click_id, purchase_ts, click_ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND click_ts <= purchase_ts
        |  AND click_ts >= purchase_ts - INTERVAL 30 MINUTE
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin,
    "q53_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b0_under_10k', 0.0, 10000.0),
        |  ('b1_10k_25k', 10000.0, 25000.0),
        |  ('b2_25k_50k', 25000.0, 50000.0),
        |  ('b3_50k_75k', 50000.0, 75000.0),
        |  ('b4_75k_100k', 75000.0, 100000.0),
        |  ('b5_over_100k', 100000.0, 1000000000.0))
        |SELECT band, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        |FROM lineitem l JOIN bands b
        |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q54_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g2,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY g1, g2, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q55_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE) AS F_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) FILTER (WHERE o_orderstatus = 'O'), 2) AS DOUBLE) AS O_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P_n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) FILTER (WHERE o_orderstatus = 'P'), 2) AS DOUBLE) AS P_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q56_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
        |  lead(o_orderstatus) OVER w AS next_status
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q57_distribution" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(percent_rank() OVER w, 4) AS pr,
        |  ROUND(cume_dist() OVER w, 4) AS cd
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q61_distribution_scaled" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(percent_rank() OVER w, 4) AS pr,
        |  ROUND(cume_dist() OVER w, 4) AS cd
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q58_scalar_subquery" ->
      """WITH t AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS total,
        |    COUNT(*) AS n_all FROM customer)
        |SELECT c_custkey, c_acctbal FROM customer, t
        |WHERE CAST(c_acctbal AS DECIMAL(12,4)) * n_all > total
        |ORDER BY c_custkey""".stripMargin,
    "q59_multiset_ops" ->
      """WITH o AS (SELECT o_custkey AS k FROM orders),
        |e AS (SELECT user_id AS k FROM events),
        |b AS (SELECT k, COUNT(*) AS n_common FROM
        |  (SELECT * FROM o INTERSECT ALL SELECT * FROM e) GROUP BY k),
        |x AS (SELECT k, COUNT(*) AS n_only_orders FROM
        |  (SELECT * FROM o EXCEPT ALL SELECT * FROM e) GROUP BY k)
        |SELECT COALESCE(b.k, x.k) AS k, COALESCE(n_common, 0) AS n_common,
        |  COALESCE(n_only_orders, 0) AS n_only_orders
        |FROM b FULL OUTER JOIN x ON b.k = x.k
        |ORDER BY k NULLS FIRST""".stripMargin,
    "q67_embed_quantize" ->
      """WITH v AS (
        |  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT label, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM v),
        |e AS (
        |  SELECT label,
        |    CASE WHEN scale = 0 THEN 0.0 ELSE
        |      list_max(list_transform(v, x ->
        |        abs(floor(x / scale + 0.5) * scale - x)))
        |    END AS verr
        |  FROM s)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(MAX(verr), 6) AS max_err,
        |  ROUND(CAST(SUM(CAST(ROUND(verr, 8) AS DECIMAL(18,8))) AS DOUBLE)
        |        / COUNT(*), 6) AS avg_err
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "q70_stratified_sample" ->
      """SELECT source, COUNT(*) AS n_sampled FROM (
        |  SELECT source,
        |    CAST(regexp_extract(source, '[0-9]+') AS INTEGER) AS srcnum,
        |    (doc_id * 48271) % 2147483647 % 100 AS bucket
        |  FROM documents)
        |WHERE (srcnum % 2 = 0 AND bucket < 50)
        |   OR (srcnum % 2 = 1 AND bucket < 10)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q72_doc_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                w -> w <> '') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(gs.s AS INTEGER) AS chunk_id,
        |    list_slice(tk, gs.s * 40 + 1, gs.s * 40 + 50) AS chunk
        |  FROM tk, LATERAL (SELECT unnest(range(0,
        |    CAST(floor((len(tk) - 1) / 40) AS BIGINT) + 1)) AS s) gs
        |  WHERE len(tk) > 0)
        |SELECT doc_id, chunk_id,
        |  CAST(len(chunk) AS INTEGER) AS n_tokens,
        |  md5(list_aggregate(chunk, 'string_agg', ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q71_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |r AS (
        |  SELECT media_id, CAST(n AS BIGINT) AS orig_bytes,
        |    list_aggregate(list_transform(
        |      range(0, CAST(floor((n - 1) / 4) AS BIGINT) + 1),
        |      i -> substring(text, CAST(i * 4 + 1 AS BIGINT), 1)),
        |      'string_agg', '') AS small
        |  FROM m)
        |SELECT media_id, orig_bytes,
        |  CAST(length(small) AS BIGINT) AS small_bytes,
        |  md5(small) AS small_md5
        |FROM r ORDER BY media_id""".stripMargin,
    "q69_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |f AS (
        |  SELECT media_id, CAST(gs.i * 4 AS INTEGER) AS frame_idx,
        |    substring(text, CAST(gs.i * 128 + 1 AS BIGINT), 32) AS frame
        |  FROM m, LATERAL (
        |    SELECT unnest(range(0, CAST(floor((n - 1) / 128) AS BIGINT) + 1)) AS i) gs)
        |SELECT media_id, frame_idx,
        |  CAST(length(frame) AS INTEGER) AS frame_len,
        |  md5(frame) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "q73_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
        |    FROM documents) GROUP BY doc_id, w),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(CAST(tf.tf AS DOUBLE) *
        |      (ln((CAST(n.n_docs AS DOUBLE) + 1.0) /
        |          (CAST(df.df AS DOUBLE) + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tf, df, score,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS "rank"
        |  FROM s)
        |SELECT doc_id, "rank", term, tf, df, score FROM r
        |WHERE "rank" <= 5 ORDER BY doc_id, "rank"""".stripMargin,
    "q74_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
        |    FROM documents) GROUP BY doc_id, w),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |qt AS (SELECT * FROM tf WHERE term IN ('scan', 'data', 'merge')),
        |df AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY term),
        |p AS (
        |  SELECT qt.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |               / (CAST(df.df AS DOUBLE) + 0.5))
        |      * ((CAST(qt.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(qt.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))),
        |      8) AS DECIMAL(18,8)) AS part
        |  FROM qt JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS bm25,
        |  CAST(COUNT(*) AS INTEGER) AS n_terms_hit
        |FROM p GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin,
    "q75_bigrams" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                     w -> w <> '') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        |  FROM tk WHERE len(tk) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "q78_nfc_normalize" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(SUM(length(text)) AS BIGINT) AS chars_raw,
        |  CAST(SUM(length(nfc_normalize(text))) AS BIGINT) AS chars_nfc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q79_inverted_index_capped" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> ''),
        |ranked AS (
        |  SELECT word, doc_id,
        |    row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY word) AS nd
        |  FROM toks)
        |SELECT word, MAX(nd) AS n_docs,
        |  array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS docs,
        |  MAX(nd) > 16 AS truncated
        |FROM ranked WHERE rn <= 16
        |GROUP BY word ORDER BY word LIMIT 200""".stripMargin,
    // q83 computes the SAME values as q51 by construction (exact discrete
    // selection; only the plan differs), so it shares q51's oracle SQL.
    "q83_percentiles_scaled" ->
      """SELECT l_returnflag,
        |  ls[CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT)] AS p50,
        |  ls[CAST(ceil(n * CAST(0.95 AS DOUBLE)) AS BIGINT)] AS p95
        |FROM (SELECT l_returnflag, list_sort(list(l_extendedprice)) AS ls,
        |        COUNT(*) AS n
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    // q85's oracle needs no codec: the image pixels are a closed-form
    // integer function of (doc_id, x, y), and PNG is lossless — equality
    // here proves the Spark-side ImageIO encode→decode round-trip exact.
    "q85_media_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 31 + x * 17 + y * 7) % 256) AS BIGINT) AS r_sum,
        |  CAST(SUM((doc_id * 13 + x * 5 + y * 11) % 256) AS BIGINT) AS g_sum,
        |  CAST(SUM((doc_id * 29 + x * 3 + y * 19) % 256) AS BIGINT) AS b_sum
        |FROM documents, range(16) t1(x), range(16) t2(y)
        |WHERE doc_id < 100
        |GROUP BY doc_id ORDER BY media_id""".stripMargin,
    "q84_stream_dedup" ->
      """SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS n_delivered,
        |  COUNT(*) AS n_unique
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q81_wordcount_unicode" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split_regex(text, '[^\p{L}]+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin,
    "q82_inverted_index_unicode" ->
      """SELECT word, COUNT(DISTINCT doc_id) AS n_docs,
        |  array_to_string(list_sort(list(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS docs
        |FROM (
        |  SELECT doc_id, UNNEST(string_split_regex(text, '[^\p{L}]+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word LIMIT 200""".stripMargin,
    "q86_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                             w -> w <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM toks WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |train AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0)
        |SELECT t.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  ROUND(CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS hit_frac,
        |  SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)
        |    AS contaminated
        |FROM train t LEFT JOIN bench b ON t.g = b.g
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q87_pack_sequences" ->
      """WITH tc AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |c AS (
        |  -- the windowed SUM is HUGEINT in DuckDB; pin BIGINT so the
        |  -- derived columns keep integer typing through the compare
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM tc)
        |SELECT doc_id, n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    "q88_source_mix" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |t AS (
        |  SELECT source, COUNT(*) AS tokens FROM (
        |    SELECT source, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY source),
        |w AS (
        |  SELECT s.source, s.n_docs, COALESCE(t.tokens, 0) AS tokens,
        |    CAST(ROUND(sqrt(CAST(COALESCE(t.tokens, 0) AS DOUBLE)), 6)
        |      AS DECIMAL(20,6)) AS wr
        |  FROM s LEFT JOIN t USING (source)),
        |tot AS (SELECT SUM(wr) AS wtot FROM w)
        |SELECT source, n_docs, tokens,
        |  ROUND(CAST(wr AS DOUBLE) / CAST(wtot AS DOUBLE), 4) AS weight,
        |  ROUND(ROUND(CAST(wr AS DOUBLE) / CAST(wtot AS DOUBLE), 4) * 1000000
        |    / NULLIF(tokens, 0), 4) AS epochs
        |FROM w, tot ORDER BY source""".stripMargin,
    "q89_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                             w -> w <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS g
        |  FROM tk WHERE len(tk) >= 2),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(MAX(c) AS BIGINT) AS top_count,
        |  ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) AS dup_frac,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_share,
        |  (SUM(c) - COUNT(*)) * 5 >= SUM(c) AS repetitive
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q90_incremental_dedup" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
        |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 >= 7),
        |m AS (SELECT fp, MIN(doc_id) AS first_id FROM inc GROUP BY fp)
        |SELECT i.doc_id, i.fp,
        |  CASE WHEN ex.fp IS NOT NULL THEN 'dup_existing'
        |       WHEN i.doc_id > m.first_id THEN 'dup_batch'
        |       ELSE 'new' END AS status
        |FROM inc i LEFT JOIN ex ON i.fp = ex.fp JOIN m ON i.fp = m.fp
        |ORDER BY i.doc_id""".stripMargin,
    // q109 is q90 with a bloom pre-probe; exactness is preserved (no false
    // negatives, positives confirmed by the exact join) so the oracle is
    // the SAME relational semantics — the sketch is invisible to results.
    "q109_bloom_dedup" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
        |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 >= 7),
        |m AS (SELECT fp, MIN(doc_id) AS first_id FROM inc GROUP BY fp)
        |SELECT i.doc_id, i.fp,
        |  CASE WHEN ex.fp IS NOT NULL THEN 'dup_existing'
        |       WHEN i.doc_id > m.first_id THEN 'dup_batch'
        |       ELSE 'new' END AS status
        |FROM inc i LEFT JOIN ex ON i.fp = ex.fp JOIN m ON i.fp = m.fp
        |ORDER BY i.doc_id""".stripMargin,
    "q91_stream_static_join" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w,
        |  c_mktsegment AS mktsegment, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS v
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY w, mktsegment""".stripMargin,
    "q92_label_centroids" ->
      """WITH e AS (
        |  SELECT label, gs.i,
        |    CAST(ROUND(CAST(embedding[gs.i] AS DOUBLE), 8) AS DECIMAL(20,8)) AS x
        |  FROM embeddings, LATERAL (
        |    SELECT unnest(generate_series(1, len(embedding))) AS i) gs)
        |SELECT label, CAST(i - 1 AS INTEGER) AS dim, COUNT(*) AS n_vecs,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean_v
        |FROM e GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "q93_source_divergence" ->
      """WITH sw AS (
        |  SELECT source, w, COUNT(*) AS c_sw FROM (
        |    SELECT source, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY source, w),
        |ts AS (SELECT source, SUM(c_sw) AS t_s, COUNT(*) AS n_types
        |  FROM sw GROUP BY source),
        |cw AS (SELECT w, SUM(c_sw) AS c_w FROM sw GROUP BY w),
        |tot AS (SELECT SUM(c_w) AS t FROM cw),
        |terms AS (
        |  SELECT sw.source, ts.t_s, ts.n_types,
        |    CAST(ROUND(
        |      (CAST(sw.c_sw AS DOUBLE) / CAST(ts.t_s AS DOUBLE)) *
        |      ln((CAST(sw.c_sw AS DOUBLE) / CAST(ts.t_s AS DOUBLE)) /
        |         (CAST(cw.c_w AS DOUBLE) / CAST(tot.t AS DOUBLE))), 8)
        |      AS DECIMAL(18,8)) AS term
        |  FROM sw JOIN ts USING (source) JOIN cw USING (w) CROSS JOIN tot)
        |SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS kl
        |FROM terms GROUP BY source, t_s, n_types ORDER BY source""".stripMargin,
    "q94_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                             w -> w <> '') AS tk
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS c_d FROM (
        |    SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
        |    FROM tk, LATERAL (
        |      SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
        |    WHERE len(tk) >= 2)
        |  GROUP BY doc_id, w1, w2),
        |bc AS (SELECT w1, w2, SUM(c_d) AS c_b FROM db GROUP BY w1, w2),
        |uc AS (SELECT w1, SUM(c_b) AS c_u FROM bc GROUP BY w1),
        |terms AS (
        |  SELECT db.doc_id, db.c_d,
        |    CAST(ROUND(CAST(db.c_d AS DOUBLE) *
        |      -ln((CAST(bc.c_b AS DOUBLE) + 1.0) /
        |          (CAST(uc.c_u AS DOUBLE) + 65536.0)), 8) AS DECIMAL(18,8)) AS term
        |  FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1))
        |SELECT doc_id, CAST(SUM(c_d) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(c_d) AS DOUBLE), 6) AS nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q95_corpus_card" ->
      """WITH tok AS (
        |  SELECT CAST(SUM(len(list_filter(
        |    string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> ''))) AS BIGINT)
        |    AS total_tokens
        |  FROM documents),
        |d AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT md5(text)) AS n_unique_texts
        |  FROM documents)
        |SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
        |  ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 4) AS avg_doc_tokens,
        |  n_unique_texts,
        |  CAST(n_docs - n_unique_texts AS BIGINT) AS n_exact_dup_docs
        |FROM d, tok""".stripMargin,
    "q96_rrf_fusion" ->
      """WITH tf AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
        |    FROM documents) GROUP BY doc_id, w),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |qt AS (SELECT * FROM tf WHERE term IN ('scan', 'data', 'merge')),
        |df AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY term),
        |bmp AS (
        |  SELECT qt.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |               / (CAST(df.df AS DOUBLE) + 0.5))
        |      * ((CAST(qt.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(qt.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))),
        |      8) AS DECIMAL(18,8)) AS part
        |  FROM qt JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        |bms AS (SELECT doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS bm25
        |  FROM bmp GROUP BY doc_id),
        |tip AS (
        |  SELECT qt.doc_id,
        |    CAST(ROUND(CAST(qt.tf AS DOUBLE) *
        |      (ln((CAST(stats.n_docs AS DOUBLE) + 1.0) /
        |          (CAST(df.df AS DOUBLE) + 1.0)) + 1.0), 8)
        |      AS DECIMAL(18,8)) AS part
        |  FROM qt JOIN df USING (term) CROSS JOIN stats),
        |tis AS (SELECT doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS tfidf
        |  FROM tip GROUP BY doc_id),
        |bmr AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
        |    AS INTEGER) AS bm25_rank
        |  FROM (SELECT doc_id, bm25 FROM bms ORDER BY bm25 DESC, doc_id LIMIT 25)),
        |tir AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id)
        |    AS INTEGER) AS tfidf_rank
        |  FROM (SELECT doc_id, tfidf FROM tis ORDER BY tfidf DESC, doc_id LIMIT 25)),
        |j AS (
        |  SELECT COALESCE(bmr.doc_id, tir.doc_id) AS doc_id,
        |    COALESCE(bm25_rank, 0) AS bm25_rank,
        |    COALESCE(tfidf_rank, 0) AS tfidf_rank
        |  FROM bmr FULL OUTER JOIN tir ON bmr.doc_id = tir.doc_id)
        |SELECT doc_id, bm25_rank, tfidf_rank,
        |  ROUND(CAST(
        |    (CASE WHEN bm25_rank > 0
        |       THEN CAST(ROUND(1.0 / (60.0 + bm25_rank), 8) AS DECIMAL(18,8))
        |       ELSE CAST(0 AS DECIMAL(18,8)) END) +
        |    (CASE WHEN tfidf_rank > 0
        |       THEN CAST(ROUND(1.0 / (60.0 + tfidf_rank), 8) AS DECIMAL(18,8))
        |       ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE), 6) AS rrf
        |FROM j ORDER BY rrf DESC, doc_id""".stripMargin,
    "q97_stream_ingest_dedup" ->
      """WITH f AS (
        |  SELECT doc_id, source, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                w -> w <> ''))), ' ')) AS fp
        |  FROM documents),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7)
        |SELECT source, COUNT(*) AS n_kept
        |FROM f LEFT JOIN ex USING (fp)
        |WHERE f.doc_id % 10 >= 7 AND ex.fp IS NULL
        |GROUP BY source ORDER BY source""".stripMargin,
    "q98_anomaly_hours" ->
      """WITH h AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT w, event_type, n,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY w
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS ps,
        |    COUNT(n) OVER (PARTITION BY event_type ORDER BY w
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS pc
        |  FROM h)
        |SELECT w, event_type, n,
        |  ROUND(CAST(ps AS DOUBLE) / pc, 4) AS avg_prev,
        |  n * pc > ps * 2 AS spike
        |FROM x WHERE pc > 0 ORDER BY w, event_type""".stripMargin,
    "q99_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, MIN(date_trunc('hour', ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS w FROM events),
        |j AS (
        |  SELECT DISTINCT CAST(f.cohort AS TIMESTAMP) AS cohort,
        |    CAST((epoch_us(a.w) - epoch_us(f.cohort)) // 3600000000 AS BIGINT)
        |      AS offset_h,
        |    a.user_id
        |  FROM a JOIN f USING (user_id))
        |SELECT cohort, offset_h, COUNT(*) AS n_users
        |FROM j GROUP BY cohort, offset_h ORDER BY cohort, offset_h""".stripMargin,
    "q100_training_manifest" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |keepers AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp),
        |tkq AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
        |    length(text) AS len
        |  FROM documents),
        |qual AS (SELECT doc_id, len(tk) AS n_tok FROM tkq
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10
        |    AND doc_id % 50 <> 0),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tkq WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT t.doc_id FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) t
        |  LEFT JOIN bench b ON t.g = b.g
        |  GROUP BY t.doc_id
        |  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)),
        |kept AS (
        |  SELECT q.doc_id, q.n_tok FROM qual q
        |  JOIN keepers USING (doc_id)
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM kept)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    // q110 = the INCREMENTAL manifest: q100's curation semantics restricted
    // to the incoming batch (doc_id % 10 >= 7), with the standing-corpus
    // dedup as an fp anti join (the bloom probe is exactness-invisible,
    // as in q109) and within-batch keepers — together q90's `new` label.
    "q110_incremental_manifest" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
        |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 >= 7),
        |keepers AS (SELECT MIN(doc_id) AS doc_id FROM inc GROUP BY fp),
        |dupex AS (SELECT i.doc_id FROM inc i JOIN ex ON i.fp = ex.fp),
        |tkq AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
        |    length(text) AS len
        |  FROM documents),
        |qual AS (SELECT doc_id, len(tk) AS n_tok FROM tkq
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10
        |    AND doc_id % 50 <> 0 AND doc_id % 10 >= 7),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tkq WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT t.doc_id FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) t
        |  LEFT JOIN bench b ON t.g = b.g
        |  GROUP BY t.doc_id
        |  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)),
        |kept AS (
        |  SELECT q.doc_id, q.n_tok FROM qual q
        |  JOIN keepers USING (doc_id)
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM dupex)
        |    AND q.doc_id NOT IN (SELECT doc_id FROM contam)),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM kept)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    // q103 = q100's composition + the near-dup tier. The oracle computes
    // the near-dup clusters from EXACT all-pairs shingle Jaccard (the
    // grams CTE is the same distinct 3-token shingle set Spark hashes)
    // and a recursive-CTE reachability min — equal to Spark's
    // minhash-verified + label-propagation form whenever LSH recall is 1
    // on the fixture (deterministic; spec-asserted in ManifestSpec).
    "q103_manifest_neardup" ->
      """WITH RECURSIVE w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |keepers AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp),
        |tkq AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
        |    length(text) AS len
        |  FROM documents),
        |qual AS (SELECT doc_id, len(tk) AS n_tok FROM tkq
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10
        |    AND doc_id % 50 <> 0),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tkq WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT t.doc_id FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) t
        |  LEFT JOIN bench b ON t.g = b.g
        |  GROUP BY t.doc_id
        |  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |nd_drop AS (SELECT id FROM r GROUP BY id HAVING MIN(comp) < id),
        |kept AS (
        |  SELECT q.doc_id, q.n_tok FROM qual q
        |  JOIN keepers USING (doc_id)
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND q.doc_id NOT IN (SELECT id FROM nd_drop)),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM kept)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    // q104 is spec-proven equal to q94 (SkewSpec) — same oracle SQL
    "q104_lm_score_skew" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                             w -> w <> '') AS tk
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS c_d FROM (
        |    SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
        |    FROM tk, LATERAL (
        |      SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
        |    WHERE len(tk) >= 2)
        |  GROUP BY doc_id, w1, w2),
        |bc AS (SELECT w1, w2, SUM(c_d) AS c_b FROM db GROUP BY w1, w2),
        |uc AS (SELECT w1, SUM(c_b) AS c_u FROM bc GROUP BY w1),
        |terms AS (
        |  SELECT db.doc_id, db.c_d,
        |    CAST(ROUND(CAST(db.c_d AS DOUBLE) *
        |      -ln((CAST(bc.c_b AS DOUBLE) + 1.0) /
        |          (CAST(uc.c_u AS DOUBLE) + 65536.0)), 8) AS DECIMAL(18,8)) AS term
        |  FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1))
        |SELECT doc_id, CAST(SUM(c_d) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(c_d) AS DOUBLE), 6) AS nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q108 = the UNION ALL long form of the same wide slice
    "q108_unpivot" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |       l_quantity AS value FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |       l_extendedprice FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |       l_discount FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    // q107 = q94's scorer + a cumulative-window budget cut; the window
    // ORDER BY (nll, doc_id) is total because nll carries 6-decimal
    // rounded values identical across engines (q94 is hash-green)
    "q107_perplexity_budget" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |                             w -> w <> '') AS tk
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS c_d FROM (
        |    SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
        |    FROM tk, LATERAL (
        |      SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
        |    WHERE len(tk) >= 2)
        |  GROUP BY doc_id, w1, w2),
        |bc AS (SELECT w1, w2, SUM(c_d) AS c_b FROM db GROUP BY w1, w2),
        |uc AS (SELECT w1, SUM(c_b) AS c_u FROM bc GROUP BY w1),
        |terms AS (
        |  SELECT db.doc_id, db.c_d,
        |    CAST(ROUND(CAST(db.c_d AS DOUBLE) *
        |      -ln((CAST(bc.c_b AS DOUBLE) + 1.0) /
        |          (CAST(uc.c_u AS DOUBLE) + 65536.0)), 8) AS DECIMAL(18,8)) AS term
        |  FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1)),
        |scores AS (
        |  SELECT doc_id, CAST(SUM(c_d) + 1 AS BIGINT) AS n_tok,
        |    ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(c_d) AS DOUBLE), 6) AS nll
        |  FROM terms GROUP BY doc_id),
        |sel AS (
        |  SELECT doc_id, nll, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY nll, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM scores)
        |SELECT doc_id, nll, n_tok, start_tok
        |FROM sel WHERE start_tok < 10000 ORDER BY nll, doc_id""".stripMargin,
    // q105 = q31's deterministic cosine pairs (DuckDB's in-order list_sum
    // reproduces the fused dot bit-for-bit) + recursive-CTE reachability
    // clusters — integer/string-exact after the rounded pair predicate,
    // so the semantic cluster collapse is oracle-checked end-to-end
    // (q66's token twin cannot be: its edges are minhash-dependent).
    "q105_semantic_dedup" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
        |p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE ROUND(list_sum(list_transform(range(1, len(a.u) + 1),
        |                                      i -> a.u[i] * b.u[i])), 4) >= 0.4),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id)
        |SELECT comp AS keeper_vec, CAST(COUNT(*) AS INTEGER) AS n_vecs,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR))
        |    AS vecs
        |FROM lab GROUP BY comp ORDER BY keeper_vec""".stripMargin,
    // q111 = q105's collapse with LSH candidates over the PLANTED-twin
    // corpus (augmentedVecs: every 100th vector re-enters at
    // vec_id + 1000000 with dim 1 scaled 1.01 — deterministic arithmetic
    // both engines derive identically). Premise (spec-asserted, the
    // q47/q66/q103 pattern): LSH candidate recall is 1 at cosine ≈ 0.9999,
    // so the verified pair set equals exact all-pairs at τ = 0.9 and the
    // oracle computes the same clusters via recursive-CTE reachability.
    "q111_semantic_dedup_lsh" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |aug AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(range(1, len(v) + 1),
        |      i -> CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END) AS v
        |  FROM base WHERE vec_id % 100 = 0),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM aug),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
        |p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE ROUND(list_sum(list_transform(range(1, len(a.u) + 1),
        |                                      i -> a.u[i] * b.u[i])), 4) >= 0.9),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id)
        |SELECT comp AS keeper_vec, CAST(COUNT(*) AS INTEGER) AS n_vecs,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR))
        |    AS vecs
        |FROM lab GROUP BY comp ORDER BY keeper_vec""".stripMargin,
    // q112 — image near-dup, FULLY oracle-checked with no codec on the
    // oracle side: pixels are the closed-form q85 formula (plus the
    // planted one-pixel twin perturbation), PNG is lossless, and the
    // 16-bit-block banding is COMPLETE for hamming <= 3 (pigeonhole),
    // so "all pairs passing the final predicates" is exactly the Spark
    // output — no recall premise needed. The oracle recomputes gray,
    // the 64 dHash comparison bits (9x8 nearest-pixel grid), hamming as
    // the count of differing bits, and SAD over the full 16x16 grid.
    "q112_image_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |imgs AS (
        |  SELECT doc_id AS media_id, doc_id AS base, FALSE AS pert FROM ids
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, TRUE FROM ids
        |  WHERE doc_id % 20 = 0),
        |px AS (
        |  SELECT media_id, x, y,
        |    CAST((LEAST((base * 31 + x * 17 + y * 7) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 13 + x * 5 + y * 11) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 29 + x * 3 + y * 19) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |         ) // 3 AS BIGINT) AS gray
        |  FROM imgs, range(16) t1(x), range(16) t2(y)),
        |bits AS (
        |  SELECT p1.media_id, g1.gy, g2.gx, (p1.gray > p2.gray) AS v
        |  FROM range(8) g1(gy), range(8) g2(gx)
        |  JOIN px p1 ON p1.x = (g2.gx * 15) // 8 AND p1.y = (g1.gy * 15) // 7
        |  JOIN px p2 ON p2.media_id = p1.media_id
        |    AND p2.x = ((g2.gx + 1) * 15) // 8 AND p2.y = (g1.gy * 15) // 7),
        |ham AS (
        |  SELECT b1.media_id AS d1, b2.media_id AS d2,
        |    CAST(SUM(CASE WHEN b1.v <> b2.v THEN 1 ELSE 0 END) AS INTEGER)
        |      AS hamming
        |  FROM bits b1 JOIN bits b2 ON b1.gy = b2.gy AND b1.gx = b2.gx
        |    AND b1.media_id < b2.media_id
        |  GROUP BY 1, 2),
        |sad AS (
        |  SELECT p1.media_id AS d1, p2.media_id AS d2,
        |    CAST(SUM(ABS(p1.gray - p2.gray)) AS BIGINT) AS sad
        |  FROM px p1 JOIN px p2 ON p1.x = p2.x AND p1.y = p2.y
        |    AND p1.media_id < p2.media_id
        |  GROUP BY 1, 2)
        |SELECT h.d1, h.d2, h.hamming,
        |  ROUND(CAST(s.sad AS DOUBLE) / 256, 4) AS mean_dist
        |FROM ham h JOIN sad s ON h.d1 = s.d1 AND h.d2 = s.d2
        |WHERE h.hamming <= 3 AND s.sad <= 2048
        |ORDER BY h.d1, h.d2""".stripMargin,
    // q113 — line-level boilerplate removal over the DERIVED line corpus
    // (planted header/license/quote + 15-word body chunks — deterministic
    // string arithmetic both engines compute identically); md5 keys and
    // md5 cleaned-text digests are engine-portable, so the whole cleaned
    // output is hash-verified end-to-end.
    "q113_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
        |built AS (
        |  SELECT doc_id,
        |    list_concat(
        |      ['common corpus boilerplate header',
        |       'license ' || source || ' all rights reserved',
        |       'shared quote block ' || CAST(doc_id % 100 AS VARCHAR)],
        |      list_transform(range(0, CAST(ceil(len(tk) / 15.0) AS INTEGER)),
        |        i -> array_to_string(tk[(i*15+1):((i+1)*15)], ' '))) AS lines
        |  FROM d),
        |l AS (
        |  SELECT doc_id, s.pos AS pos, s.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(lines) + 1),
        |      i -> {'pos': i, 'line': lines[i]})) AS s
        |    FROM built)),
        |f AS (
        |  SELECT md5(line) AS lkey, COUNT(DISTINCT doc_id) AS docfreq
        |  FROM l GROUP BY 1),
        |b AS (SELECT lkey FROM f WHERE docfreq >= 20)
        |SELECT l.doc_id,
        |  COUNT(*) AS n_lines,
        |  CAST(COUNT(b.lkey) AS BIGINT) AS n_boiler,
        |  CAST(COUNT(*) - COUNT(b.lkey) AS BIGINT) AS n_kept,
        |  md5(string_agg(line, chr(10) ORDER BY pos)
        |      FILTER (WHERE b.lkey IS NULL)) AS cleaned_md5
        |FROM l LEFT JOIN b ON md5(l.line) = b.lkey
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    // q115 — q87's packing in deterministic-shuffle order: the md5
    // permutation is a fixed function of doc_id both engines compute
    // identically, so the windowed running total reproduces the
    // two-pass engine's offsets exactly.
    "q115_shuffled_pack" ->
      """WITH tc AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |s AS (
        |  SELECT doc_id, n_tok, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM tc),
        |c AS (
        |  SELECT doc_id, n_tok, shuffle_key,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY shuffle_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM s)
        |SELECT doc_id, n_tok, shuffle_key, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs
        |FROM c ORDER BY shuffle_key""".stripMargin,
    // q116 — the per-sequence slice manifest: same doc_id-ordered
    // running total as q87's oracle, then one generated row per
    // spanned sequence with in-sequence / in-document offsets.
    "q116_seq_manifest" ->
      """WITH tc AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM tc),
        |e AS (
        |  SELECT doc_id, n_tok, start_tok,
        |    UNNEST(generate_series(CAST(start_tok // 128 AS BIGINT),
        |      CAST((start_tok + n_tok - 1) // 128 AS BIGINT))) AS seq_id
        |  FROM c)
        |SELECT seq_id, doc_id,
        |  CAST(GREATEST(start_tok - seq_id * 128, 0) AS BIGINT) AS seq_off,
        |  CAST(GREATEST(seq_id * 128 - start_tok, 0) AS BIGINT) AS doc_off,
        |  CAST(LEAST(start_tok + n_tok, (seq_id + 1) * 128)
        |    - GREATEST(start_tok, seq_id * 128) AS BIGINT) AS n_tok_slice
        |FROM e ORDER BY seq_id, seq_off""".stripMargin,
    // q117 — overlapping token-window chunking (window 32, stride 24):
    // identical tokenizer, identical ceil arithmetic, chunk content
    // compared via md5 of the space-joined window.
    "q117_chunk_stride" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(1 + (GREATEST(len(toks) - 32, 0) + 23) // 24 AS BIGINT)
        |      AS n_chunks
        |  FROM t WHERE len(toks) > 0),
        |e AS (
        |  SELECT doc_id, toks, n_tok,
        |    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, chunk_id,
        |  CAST(chunk_id * 24 AS BIGINT) AS start_tok,
        |  CAST(LEAST(32, n_tok - chunk_id * 24) AS BIGINT) AS n_tok_chunk,
        |  md5(array_to_string(
        |    list_slice(toks, chunk_id * 24 + 1,
        |      LEAST(chunk_id * 24 + 32, n_tok)), ' ')) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    // q118 — exact-quota stratified sample: the k smallest md5 digests
    // per source; the window form is the oracle, the engine runs the
    // bounded partial-aggregating sampler.
    "q118_strat_sample" ->
      """SELECT source, rk, sample_key, doc_id FROM (
        |  SELECT source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk,
        |    md5(CAST(doc_id AS VARCHAR)) AS sample_key, doc_id
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // q119 — int64-exact sparse cosine (weights quantized to 1e-4 units
    // at birth), so norms and dots match bit-for-bit; the only floats
    // are two sqrts and one divide, rounded to 6 in both engines.
    "q119_sparse_neardup" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3),
        |gt AS (SELECT doc_id, gram, count(*) AS tfv FROM g GROUP BY 1, 2),
        |dfv AS (SELECT doc_id, gram, tfv,
        |    count(*) OVER (PARTITION BY gram) AS df FROM gt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w8 AS (SELECT doc_id, gram,
        |    CAST(ROUND(tfv * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |      * 10000) AS BIGINT) AS wi
        |  FROM dfv, n WHERE df <= 50),
        |nrm AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w8 GROUP BY 1),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT d1, d2,
        |    ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6) AS cosine
        |  FROM dots JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2)
        |SELECT d1, d2, cosine FROM c WHERE cosine >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    // q152 — triangles on the q119 edge set: the q119 CTE chain through
    // `c`, then degree-ordered orientation, wedge join, closing join.
    "q152_triangles" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3),
        |gt AS (SELECT doc_id, gram, count(*) AS tfv FROM g GROUP BY 1, 2),
        |dfv AS (SELECT doc_id, gram, tfv,
        |    count(*) OVER (PARTITION BY gram) AS df FROM gt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w8 AS (SELECT doc_id, gram,
        |    CAST(ROUND(tfv * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |      * 10000) AS BIGINT) AS wi
        |  FROM dfv, n WHERE df <= 50),
        |nrm AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w8 GROUP BY 1),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT d1, d2,
        |    ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6) AS cosine
        |  FROM dots JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2),
        |e AS (SELECT d1, d2 FROM c WHERE cosine >= 0.5),
        |dg AS (SELECT v, COUNT(*) AS deg FROM (
        |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY v),
        |o AS (SELECT
        |    CASE WHEN g1.deg < g2.deg OR (g1.deg = g2.deg AND e.d1 < e.d2)
        |         THEN e.d1 ELSE e.d2 END AS src,
        |    CASE WHEN g1.deg < g2.deg OR (g1.deg = g2.deg AND e.d1 < e.d2)
        |         THEN e.d2 ELSE e.d1 END AS dst
        |  FROM e JOIN dg g1 ON g1.v = e.d1 JOIN dg g2 ON g2.v = e.d2),
        |wg AS (SELECT a.dst AS v, b.dst AS w FROM o a
        |  JOIN o b ON a.src = b.src AND a.dst < b.dst),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM wg
        |  JOIN o ON (wg.v = o.src AND wg.w = o.dst)
        |         OR (wg.w = o.src AND wg.v = o.dst)),
        |tot AS (SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |    COUNT(*) AS n_nodes,
        |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM dg)
        |SELECT tot.n_nodes, tot.n_edges,
        |  CAST(tri.n_triangles AS BIGINT) AS n_triangles, tot.n_wedges,
        |  CASE WHEN tot.n_wedges > 0
        |       THEN ROUND(3.0 * tri.n_triangles / tot.n_wedges, 6)
        |  END AS clustering
        |FROM tot, tri""".stripMargin,
    // q154 — per-node triangles over wedges: the q152 chain kept at
    // triple granularity, three credits per closed triangle.
    "q154_local_clustering" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3),
        |gt AS (SELECT doc_id, gram, count(*) AS tfv FROM g GROUP BY 1, 2),
        |dfv AS (SELECT doc_id, gram, tfv,
        |    count(*) OVER (PARTITION BY gram) AS df FROM gt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w8 AS (SELECT doc_id, gram,
        |    CAST(ROUND(tfv * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |      * 10000) AS BIGINT) AS wi
        |  FROM dfv, n WHERE df <= 50),
        |nrm AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w8 GROUP BY 1),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT d1, d2,
        |    ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6) AS cosine
        |  FROM dots JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2),
        |e AS (SELECT d1, d2 FROM c WHERE cosine >= 0.5),
        |dg AS (SELECT v, COUNT(*) AS deg FROM (
        |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY v),
        |o AS (SELECT
        |    CASE WHEN g1.deg < g2.deg OR (g1.deg = g2.deg AND e.d1 < e.d2)
        |         THEN e.d1 ELSE e.d2 END AS src,
        |    CASE WHEN g1.deg < g2.deg OR (g1.deg = g2.deg AND e.d1 < e.d2)
        |         THEN e.d2 ELSE e.d1 END AS dst
        |  FROM e JOIN dg g1 ON g1.v = e.d1 JOIN dg g2 ON g2.v = e.d2),
        |wg AS (SELECT a.src AS u, a.dst AS v, b.dst AS w FROM o a
        |  JOIN o b ON a.src = b.src AND a.dst < b.dst),
        |cl AS (SELECT p.u, p.src, p.dst FROM (
        |    SELECT u, v AS src, w AS dst FROM wg
        |    UNION ALL SELECT u, w AS src, v AS dst FROM wg) p
        |  JOIN o ON o.src = p.src AND o.dst = p.dst),
        |tn AS (SELECT v, COUNT(*) AS n_tri FROM (
        |    SELECT u AS v FROM cl UNION ALL SELECT src FROM cl
        |    UNION ALL SELECT dst FROM cl) GROUP BY v)
        |SELECT dg.v AS doc_id, CAST(dg.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN dg.deg >= 2 THEN ROUND(
        |    CAST(COALESCE(tn.n_tri, 0) AS DOUBLE) /
        |      CAST(dg.deg * (dg.deg - 1) // 2 AS DOUBLE), 6)
        |  END AS local_cc
        |FROM dg LEFT JOIN tn ON tn.v = dg.v
        |ORDER BY doc_id""".stripMargin,
    // q155 — log2-bucket length histogram: integer bucket via binary
    // string length (float log2 misbuckets exact powers of two).
    "q155_length_histogram" ->
      """WITH d AS (SELECT source,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                    x -> x <> '')) AS n_tok
        |  FROM documents),
        |h AS (SELECT source,
        |    CAST(length(bin(n_tok)) - 1 AS INTEGER) AS bucket,
        |    COUNT(*) AS n_docs
        |  FROM d WHERE n_tok >= 1 GROUP BY 1, 2),
        |t AS (SELECT source, SUM(n_docs) AS n_total FROM h GROUP BY source)
        |SELECT h.source, h.bucket,
        |  CAST(1::BIGINT << h.bucket AS BIGINT) AS lo,
        |  CAST((1::BIGINT << (h.bucket + 1)) - 1 AS BIGINT) AS hi,
        |  CAST(h.n_docs AS BIGINT) AS n_docs,
        |  ROUND(CAST(h.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE), 4)
        |    AS share
        |FROM h JOIN t USING (source)
        |ORDER BY h.source, h.bucket""".stripMargin,
    // q156 — interpolated histogram quantiles: identical float op order
    // on bit-identical inputs, so estimates reproduce exactly.
    "q156_hist_quantiles" ->
      """WITH li AS (SELECT l_returnflag AS g, l_extendedprice AS v
        |  FROM lineitem),
        |st AS (SELECT g, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
        |  FROM li GROUP BY g),
        |s2 AS (SELECT g, mn, mx, n, (mx - mn) / 64 AS width FROM st),
        |h AS (SELECT li.g,
        |    CASE WHEN width > 0
        |      THEN LEAST(CAST(FLOOR((v - mn) / width) AS INTEGER), 63)
        |      ELSE 0 END AS bucket,
        |    COUNT(*) AS cnt
        |  FROM li JOIN s2 USING (g) GROUP BY 1, 2),
        |c2 AS (SELECT g, bucket, cnt, cum, cum - cnt AS cum_before FROM (
        |  SELECT g, bucket, cnt,
        |      SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM h)),
        |tg AS (SELECT s2.g, s2.mn, s2.width, p.p,
        |    p.p * CAST(s2.n AS DOUBLE) AS target
        |  FROM s2, (SELECT unnest([0.5, 0.9, 0.99]) AS p) p),
        |pk AS (SELECT tg.g, tg.p, tg.mn, tg.width, tg.target,
        |    MIN(c2.bucket) AS bucket
        |  FROM tg JOIN c2 ON c2.g = tg.g AND c2.cum >= tg.target
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT pk.g AS l_returnflag, pk.p,
        |  ROUND(pk.mn + pk.width * (CAST(pk.bucket AS DOUBLE)
        |    + (pk.target - CAST(c2.cum_before AS DOUBLE))
        |      / CAST(c2.cnt AS DOUBLE)), 4) AS est
        |FROM pk JOIN c2 ON c2.g = pk.g AND c2.bucket = pk.bucket
        |ORDER BY l_returnflag, p""".stripMargin,
    // q157 — Zipf slope: 8dp-rounded DECIMAL regression terms, identical
    // closed-form arithmetic order.
    "q157_zipf_slope" ->
      (s"WITH $augWordsSql,\n" +
      """tf AS (SELECT source, word, COUNT(*) AS n FROM aw
        |  GROUP BY source, word),
        |rk AS (SELECT source, n,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n DESC, word) AS rank
        |  FROM tf),
        |tm AS (SELECT source,
        |    CAST(ROUND(ln(CAST(rank AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
        |    CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS xy,
        |    CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS xx
        |  FROM rk),
        |ag AS (SELECT source, COUNT(*) AS k,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(xy) AS sxy, SUM(xx) AS sxx
        |  FROM tm GROUP BY source)
        |SELECT source, CAST(k AS BIGINT) AS n_terms,
        |  CASE WHEN CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
        |    ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
        |  END AS zipf_slope
        |FROM ag ORDER BY source""".stripMargin),
    // q158 — Heaps' law fit over Lehmer-decile prefixes of the AUGMENTED
    // corpus: V and N are cumulative sums of first-occurrence/token
    // histograms; q157's decimal least squares; intercept from the
    // UNROUNDED slope.
    "q158_heaps_law" ->
      (s"WITH $augWordsSql,\n" +
      """dd AS (SELECT source,
        |    CAST(doc_id * 48271 % 2147483647 % 100 // 10 AS INTEGER) AS dc,
        |    word
        |  FROM aw),
        |vh AS (SELECT source, mb AS dc, COUNT(*) AS v_new FROM (
        |    SELECT source, word, MIN(dc) AS mb FROM dd
        |    GROUP BY source, word)
        |  GROUP BY source, mb),
        |nh AS (SELECT source, dc, COUNT(*) AS n_tok FROM dd
        |  GROUP BY source, dc),
        |pt AS (SELECT source, dc, v, n FROM (
        |    SELECT nh.source, nh.dc,
        |      SUM(COALESCE(vh.v_new, 0)) OVER w AS v,
        |      SUM(nh.n_tok) OVER w AS n
        |    FROM nh LEFT JOIN vh ON vh.source = nh.source AND vh.dc = nh.dc
        |    WINDOW w AS (PARTITION BY nh.source ORDER BY nh.dc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |  WHERE v > 0 AND n > 0),
        |tm AS (SELECT source,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
        |    CAST(ROUND(ln(CAST(v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)) * ln(CAST(v AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS xy,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS xx
        |  FROM pt),
        |ag AS (SELECT source, COUNT(*) AS k,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(xy) AS sxy, SUM(xx) AS sxx
        |  FROM tm GROUP BY source)
        |SELECT source, CAST(k AS BIGINT) AS n_points,
        |  CASE WHEN CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
        |    ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
        |  END AS beta,
        |  CASE WHEN CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
        |    ROUND(exp((CAST(sy AS DOUBLE)
        |      - ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE)), 4)
        |  END AS k_coeff
        |FROM ag ORDER BY source""".stripMargin),
    // q159 — the multimodal manifest: q100's text-tier CTEs + the q112
    // pixel-formula image tier (twins planted between real docs: doc_id
    // % 10 = 1 carries a one-pixel-perturbed copy of doc_id - 1's
    // image), components by recursive CTE, image non-keepers dropped
    // before the pack window. No codec on the oracle side — PNG is
    // lossless and banding is pigeonhole-complete, so "all pairs
    // passing the final predicates" equals Spark's banded output.
    "q159_manifest_multimodal" ->
      """WITH RECURSIVE ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |imgs AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
        |    (doc_id % 10 = 1) AS pert
        |  FROM ids),
        |px AS (
        |  SELECT media_id, x, y,
        |    CAST((LEAST((base * 31 + x * 17 + y * 7) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 13 + x * 5 + y * 11) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 29 + x * 3 + y * 19) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |         ) // 3 AS BIGINT) AS gray
        |  FROM imgs, range(16) t1(x), range(16) t2(y)),
        |bits AS (
        |  SELECT p1.media_id, g1.gy, g2.gx, (p1.gray > p2.gray) AS v
        |  FROM range(8) g1(gy), range(8) g2(gx)
        |  JOIN px p1 ON p1.x = (g2.gx * 15) // 8 AND p1.y = (g1.gy * 15) // 7
        |  JOIN px p2 ON p2.media_id = p1.media_id
        |    AND p2.x = ((g2.gx + 1) * 15) // 8 AND p2.y = (g1.gy * 15) // 7),
        |ham AS (
        |  SELECT b1.media_id AS d1, b2.media_id AS d2,
        |    CAST(SUM(CASE WHEN b1.v <> b2.v THEN 1 ELSE 0 END) AS INTEGER)
        |      AS hamming
        |  FROM bits b1 JOIN bits b2 ON b1.gy = b2.gy AND b1.gx = b2.gx
        |    AND b1.media_id < b2.media_id
        |  GROUP BY 1, 2),
        |sad AS (
        |  SELECT p1.media_id AS d1, p2.media_id AS d2,
        |    CAST(SUM(ABS(p1.gray - p2.gray)) AS BIGINT) AS sad
        |  FROM px p1 JOIN px p2 ON p1.x = p2.x AND p1.y = p2.y
        |    AND p1.media_id < p2.media_id
        |  GROUP BY 1, 2),
        |ipairs AS (
        |  SELECT h.d1, h.d2 FROM ham h JOIN sad s ON h.d1 = s.d1 AND h.d2 = s.d2
        |  WHERE h.hamming <= 3 AND s.sad <= 2048),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM ipairs
        |  UNION ALL SELECT d2, d1 FROM ipairs),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |img_drop AS (SELECT id FROM r GROUP BY id HAVING MIN(comp) < id),
        |w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |keepers AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp),
        |tkq AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
        |    length(text) AS len
        |  FROM documents),
        |qual AS (SELECT doc_id, len(tk) AS n_tok FROM tkq
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10
        |    AND doc_id % 50 <> 0),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tkq WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT t.doc_id FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) t
        |  LEFT JOIN bench b ON t.g = b.g
        |  GROUP BY t.doc_id
        |  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)),
        |kept AS (
        |  SELECT q.doc_id, q.n_tok FROM qual q
        |  JOIN keepers USING (doc_id)
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND q.doc_id NOT IN (SELECT id FROM img_drop)),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM kept)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs,
        |  (doc_id < 100) AS has_image
        |FROM c ORDER BY doc_id""".stripMargin,
    "q120_vocab_coverage" ->
      """WITH tk AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS word FROM documents),
        |v AS (SELECT word FROM (
        |    SELECT word, count(*) AS n FROM tk GROUP BY 1
        |    ORDER BY n DESC, word LIMIT 20)),
        |m AS (SELECT source,
        |    CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tk LEFT JOIN v ON tk.word = v.word)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  ROUND(SUM(CAST(oov AS DOUBLE)) / count(*), 6) AS oov_rate
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q123_pack_efficiency" ->
      """WITH tc AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM tc),
        |p AS (SELECT n_tok,
        |    CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |    CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq
        |  FROM c)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_split_docs,
        |  ROUND(CAST(SUM(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
        |    AS DOUBLE) / NULLIF(COUNT(*), 0), 6) AS split_rate,
        |  ROUND(CAST(SUM(n_tok) - MAX(last_seq) * 128 AS DOUBLE) / 128, 6)
        |    AS tail_fill
        |FROM p""".stripMargin,
    // q125 shares q66's exact-pair + reachability oracle, then accounts
    // kept docs/tokens per source with the q87 token definition.
    "q125_effective_mix" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |drp AS (SELECT id AS doc_id FROM lab WHERE comp <> id),
        |d AS (SELECT doc.doc_id, doc.source,
        |    CAST(len(list_filter(string_split_regex(lower(doc.text),
        |      '[^a-z]+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CASE WHEN drp.doc_id IS NULL THEN 1 ELSE 0 END AS kept
        |  FROM documents doc LEFT JOIN drp ON doc.doc_id = drp.doc_id),
        |p AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(kept) AS BIGINT) AS n_kept,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
        |      AS n_tokens_kept
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(n_tokens_kept) AS BIGINT) AS t FROM p)
        |SELECT source, n_docs, n_kept, n_tokens, n_tokens_kept,
        |  CASE WHEN t.t > 0
        |       THEN ROUND(CAST(n_tokens_kept AS DOUBLE) / t.t, 6) END
        |    AS mix_share
        |FROM p, t ORDER BY source""".stripMargin,
    // q124 — q119's weighting under the CORPUS model (df/N from the
    // standing split only; smoothed idf makes batch-novel grams df=0
    // well-defined), q106's split + greedy labeling rule.
    "q124_incr_sparse_neardup" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3),
        |gt AS (SELECT doc_id, gram, count(*) AS tfv FROM g GROUP BY 1, 2),
        |dfv AS (SELECT doc_id, gram, tfv, (doc_id % 10 < 7) AS corpus,
        |    SUM(CASE WHEN doc_id % 10 < 7 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY gram) AS df FROM gt),
        |n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % 10 < 7),
        |w8 AS (SELECT doc_id, gram, corpus,
        |    CAST(ROUND(tfv * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |      * 10000) AS BIGINT) AS wi
        |  FROM dfv, n WHERE df <= 50),
        |nrm AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w8 GROUP BY 1),
        |pc AS (SELECT a.doc_id AS in_id, b.doc_id AS other_id,
        |    x.n2 AS na, y.n2 AS nb, SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram AND NOT a.corpus AND b.corpus
        |  JOIN nrm x ON x.doc_id = a.doc_id JOIN nrm y ON y.doc_id = b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |dc AS (SELECT DISTINCT in_id FROM pc
        |  WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.5),
        |pb AS (SELECT a.doc_id AS in_id, b.doc_id AS other_id,
        |    x.n2 AS na, y.n2 AS nb, SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram
        |    AND NOT a.corpus AND NOT b.corpus AND b.doc_id < a.doc_id
        |  JOIN nrm x ON x.doc_id = a.doc_id JOIN nrm y ON y.doc_id = b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |db AS (SELECT DISTINCT in_id FROM pb
        |  WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.5)
        |SELECT d.doc_id,
        |  CASE WHEN dc.in_id IS NOT NULL THEN 'neardup_corpus'
        |       WHEN db.in_id IS NOT NULL THEN 'neardup_batch'
        |       ELSE 'new' END AS status
        |FROM documents d
        |LEFT JOIN dc ON dc.in_id = d.doc_id
        |LEFT JOIN db ON db.in_id = d.doc_id
        |WHERE NOT (d.doc_id % 10 < 7) ORDER BY d.doc_id""".stripMargin,
    "q121_source_simmatrix" ->
      """WITH tk AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |sg AS (SELECT DISTINCT source, gram FROM (
        |    SELECT source, unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |    FROM tk WHERE len(w) >= 3)),
        |sz AS (SELECT source, gram,
        |    count(*) OVER (PARTITION BY source) AS sz FROM sg)
        |SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared,
        |  ROUND(CAST(count(*) AS DOUBLE) /
        |    (a.sz + b.sz - count(*)), 6) AS jaccard
        |FROM sz a JOIN sz b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY a.source, b.source, a.sz, b.sz ORDER BY s1, s2""".stripMargin,
    // q122 shares q66's exact-pair + recursive-reachability oracle (the
    // spec-asserted LSH-recall-1 premise), then histograms cluster sizes;
    // the singleton row is total docs minus clustered docs.
    "q122_cluster_histogram" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |cs AS (SELECT comp, COUNT(*) AS sz FROM lab GROUP BY comp),
        |hist AS (SELECT sz, COUNT(*) AS n_clusters FROM cs GROUP BY sz),
        |single AS (SELECT 1 AS sz,
        |  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lab)
        |    AS n_clusters)
        |SELECT CAST(sz AS INTEGER) AS cluster_size,
        |  CAST(n_clusters AS BIGINT) AS n_clusters
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM single)
        |ORDER BY cluster_size""".stripMargin,
    // q114 — PII scrub over deterministically planted emails/phones;
    // the patterns sit in the RE2 ∩ java.util.regex common dialect so
    // both engines compile them identically ('g' flag: DuckDB's
    // regexp_replace is first-match-only by default, Spark's is global).
    "q114_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' or user' ||
        |      CAST(doc_id AS VARCHAR) || 'b@example.org later' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
        |      CAST(doc_id % 10000 AS VARCHAR) || ' today' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\.[a-z]+'))
        |    AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '555-[0-9]+'))
        |    AS INTEGER) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    // q106 = exact cross-split shingle Jaccard with the greedy suppress
    // rule — integer-exact given the LSH-recall-1 premise (ManifestSpec);
    // CASE order mirrors the Spark when() precedence (corpus beats batch)
    "q106_incremental_neardup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |dupc AS (
        |  SELECT DISTINCT CASE WHEN d1 % 10 >= 7 THEN d1 ELSE d2 END AS id
        |  FROM p WHERE (d1 % 10 < 7) <> (d2 % 10 < 7)),
        |dupb AS (
        |  SELECT DISTINCT d2 AS id FROM p
        |  WHERE d1 % 10 >= 7 AND d2 % 10 >= 7)
        |SELECT doc_id,
        |  CASE WHEN doc_id IN (SELECT id FROM dupc) THEN 'neardup_corpus'
        |       WHEN doc_id IN (SELECT id FROM dupb) THEN 'neardup_batch'
        |       ELSE 'new' END AS status
        |FROM documents WHERE doc_id % 10 >= 7 ORDER BY doc_id""".stripMargin,
    "q101_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT
        |  (SELECT COUNT(*) FROM s1) AS n_signup,
        |  (SELECT COUNT(*) FROM s2) AS n_click_after,
        |  (SELECT COUNT(*) FROM s3) AS n_purchase_after,
        |  ROUND(CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) /
        |        NULLIF((SELECT COUNT(*) FROM s1), 0), 4) AS click_rate,
        |  ROUND(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE) /
        |        NULLIF((SELECT COUNT(*) FROM s2), 0), 4) AS purchase_rate"""
        .stripMargin,
    "q102_session_paths" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |x AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS nsess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, event_type,
        |  CAST(SUM(nsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x),
        |p AS (SELECT user_id, sid,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, COUNT(*) AS n_sessions FROM p
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // q34, q36, q38: hash-function/float-order/sketch dependent
    // (LSH buckets at recall < 1, cosine ranking, stub
    // features, HLL) — not expressible identically in DuckDB SQL; driver
    // records the weaker rows-only check; invariant specs cover them.
    // (q29 graduated round 7 via exact-verified presentation; q30
    // graduated round 8 by switching its token hash to the portable
    // poly31+splitmix64 kernel — see simhashOracleSql; q34's
    // operator shape carries a full oracle at the τ ≥ 0.9 regime as
    // q111 — at τ = 0.3 its recall is partial BY DESIGN, so the output
    // set is genuinely hash-dependent there.)
    "q30_dedup_simhash" -> simhashOracleSql,
    // q76 (differential recall), q77 (zlib-build-dependent byte counts):
    // rows-only by nature; RecallSpec / CompressionSpec pin invariants.
    // q65/q80 graduated (round 8): no exact-verifier characterization
    // exists (the winnow guarantee is one-directional), so the oracle
    // instead recomputes the kernel's EXACT hash — the 31-polynomial +
    // splitmix64 finalizer is pure 64-bit integer arithmetic, and DuckDB
    // evaluates it losslessly in HUGEINT with xor() and a split-multiply
    // for the two mod-2^64 products ((lo32·C + (hi32·C mod 2^32)·2^32)
    // mod 2^64). Signed BIGINT conversion before the window-min preserves
    // the kernel's signed Long comparisons. Verified gram-for-gram
    // against WinnowFpExpr at both gate scale factors.
    "q65_winnow_containment" ->
      (winnowFpSql +
        """
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(count(*) AS INTEGER) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 8 ORDER BY d1, d2""").stripMargin,
    "q80_passage_dedup" ->
      (winnowFpSql +
        """,
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 8),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |drp AS (SELECT id AS doc_id FROM lab WHERE comp <> id)
        |SELECT doc.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN drp.doc_id IS NULL THEN 0 ELSE 1 END)
        |    AS INTEGER) AS n_dropped,
        |  CAST(COUNT(*) - SUM(CASE WHEN drp.doc_id IS NULL THEN 0 ELSE 1 END)
        |    AS INTEGER) AS n_kept
        |FROM documents doc LEFT JOIN drp ON doc.doc_id = drp.doc_id
        |GROUP BY doc.source ORDER BY doc.source""").stripMargin,
    // q126/q127 recompute the classifier kernel exactly: the portable
    // token hash (see simhashOracleSql note) → bucket (pmod 4096) →
    // synthetic weight (re-hash of 'w#'||bucket, pmod 2001 − 1000) →
    // integer score sum. Signed-mod emulation: ((x % m) + m) % m.
    "q126_classifier_filter" ->
      (classifierScoreSql +
        """
        |SELECT d.doc_id,
        |  CAST(COALESCE(s.n_toks, 0) AS INTEGER) AS n_toks,
        |  CAST(COALESCE(s.score_sum, 0) AS BIGINT) AS score_sum,
        |  CASE WHEN COALESCE(s.n_toks, 0) > 0
        |    THEN ROUND(CAST(s.score_sum AS DOUBLE)
        |               / CAST(s.n_toks AS DOUBLE), 6) END AS score,
        |  CAST(CASE WHEN COALESCE(s.score_sum, 0) > 0 THEN 1 ELSE 0 END
        |    AS INTEGER) AS kept
        |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""").stripMargin,
    "q127_source_cap" ->
      (classifierScoreSql +
        """,
        |sc2 AS (SELECT d.doc_id, d.source,
        |    CAST(COALESCE(s.score_sum, 0) AS BIGINT) AS score_sum
        |  FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id)
        |SELECT source, CAST(rk AS INTEGER) AS rank, doc_id, score_sum
        |FROM (SELECT source, doc_id, score_sum,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score_sum DESC, doc_id) AS rk FROM sc2)
        |WHERE rk <= 15 ORDER BY source, rank""").stripMargin,
    // q128 — exact arithmetic end-to-end: integer token totals, integer
    // sqrt-floor weights, integer DIV allocation; the two double ratios
    // (share, epochs) each divide once and round once.
    "q128_mixture_plan" ->
      """WITH d AS (SELECT source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |ps AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
        |  FROM ps),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
        |a AS (SELECT source, n_docs, n_tokens, w, tw,
        |    CAST(2000000 * w // tw AS BIGINT) AS target_tokens FROM w, t)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |  ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share,
        |  target_tokens,
        |  ROUND(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
        |    AS epochs,
        |  CAST(LEAST(target_tokens, 4 * n_tokens) AS BIGINT)
        |    AS effective_tokens
        |FROM a ORDER BY source""".stripMargin,
    // q129 — DuckDB replays the integer PageRank recurrence exactly:
    // all-integer mass (1e-12 units), double floor per step (share DIV
    // deg, damping DIV 100), 5 unrolled iterations.
    "q129_doc_pagerank" -> pagerankOracleSql,
    // q160 — the incremental build replayed from scratch (the Δ-graph
    // is spec-proven equal to the rebuild; recurrence replay is exact)
    "q160_incremental_pagerank" -> incrPagerankOracleSql,
    "q163_kcore" -> kcoreOracleSql,
    "q165_bpe_encode" -> bpeEncodeOracleSql,
    // q166 — WAV PCM is lossless and the clip is closed-form, so every
    // feature (including the sr read back out of the DECODED RIFF
    // header) is recomputed from the sample formula with no codec.
    "q166_audio_features" ->
      """WITH par AS (SELECT doc_id, 256 + (doc_id % 4) * 128 AS n
        |  FROM documents WHERE doc_id < 100),
        |ix AS (SELECT doc_id, n, unnest(range(n)) AS i FROM par),
        |sm AS (SELECT doc_id, n, i,
        |    ((doc_id * 31 + i * 17) % 2003) - 1001 AS v FROM ix),
        |zc AS (SELECT doc_id,
        |    COUNT(*) FILTER (WHERE (v >= 0) <> (nv >= 0)) AS zc
        |  FROM (SELECT doc_id, v,
        |      LEAD(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv FROM sm)
        |  WHERE nv IS NOT NULL GROUP BY doc_id),
        |fr AS (SELECT doc_id, i // 160 AS f, SUM(v * v) AS e
        |  FROM sm GROUP BY doc_id, i // 160),
        |loud AS (SELECT doc_id, f, e FROM (
        |    SELECT doc_id, f, e,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e DESC, f)
        |        AS rn FROM fr) WHERE rn = 1),
        |agg AS (SELECT doc_id, MAX(n) AS n, MAX(ABS(v)) AS peak,
        |    SUM(v * v) AS sum_sq FROM sm GROUP BY doc_id)
        |SELECT a.doc_id AS media_id, CAST(8000 AS INTEGER) AS sr,
        |  CAST(a.n AS INTEGER) AS n_samples,
        |  CAST(a.n * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(a.peak AS INTEGER) AS peak,
        |  CAST(a.sum_sq AS BIGINT) AS sum_sq,
        |  CAST(zc.zc AS INTEGER) AS zero_crossings,
        |  CAST(loud.f AS INTEGER) AS loud_frame,
        |  CAST(loud.e AS BIGINT) AS loud_energy
        |FROM agg a JOIN zc USING (doc_id) JOIN loud USING (doc_id)
        |ORDER BY media_id""".stripMargin,
    // q168 — WAV is lossless and the energy-delta fingerprint + SAD are
    // integer arithmetic on closed-form samples; 8-bit banding over >= 2
    // bands is pigeonhole-complete for hamming <= 1, so the engine's
    // banded output equals the oracle's direct all-pairs computation.
    "q168_audio_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |clips AS (
        |  SELECT doc_id AS media_id, doc_id AS base, FALSE AS pert FROM ids
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, TRUE FROM ids
        |  WHERE doc_id % 20 = 0),
        |par AS (SELECT media_id, base, pert,
        |    256 + (base % 4) * 128 AS n FROM clips),
        |s AS (SELECT media_id, n,
        |    list_transform(range(n), i ->
        |      ((base * 31 + i * 17) % 2003) - 1001
        |      + CASE WHEN pert AND i = 0 THEN 4 ELSE 0 END) AS sm
        |  FROM par),
        |e AS (SELECT media_id, n, sm,
        |    list_transform(range(n // 16), f ->
        |      list_sum(list_transform(range(f * 16, (f + 1) * 16),
        |        i -> CAST(sm[i + 1] AS BIGINT) * sm[i + 1]))) AS en
        |  FROM s),
        |fp AS (SELECT media_id, n, sm,
        |    CAST(list_sum(list_transform(range(len(en) - 1), f ->
        |      CASE WHEN en[f + 2] > en[f + 1]
        |        THEN (CAST(1 AS BIGINT) << f) ELSE 0 END)) AS BIGINT) AS fp
        |  FROM e),
        |pr AS (SELECT a.media_id AS d1, b.media_id AS d2, a.n AS n,
        |    bit_count(xor(a.fp, b.fp)) AS hamming,
        |    list_sum(list_transform(range(a.n),
        |      i -> abs(a.sm[i + 1] - b.sm[i + 1]))) AS sad
        |  FROM fp a JOIN fp b ON a.n = b.n AND a.media_id < b.media_id)
        |SELECT d1, d2, CAST(hamming AS INTEGER) AS hamming,
        |  ROUND(CAST(sad AS DOUBLE) / n, 4) AS mean_dist
        |FROM pr WHERE hamming <= 1 AND sad <= 1000
        |ORDER BY d1, d2""".stripMargin,
    // q172 — q159's oracle with the audio tier: clips on docs [50, 150)
    // (doc % 10 = 6 carries a one-sample-perturbed copy of doc-1's
    // clip), energy-delta fingerprints, hamming<=1 + SAD<=1000 pairs
    // computed all-pairs (banding is pigeonhole-complete), components by
    // a second recursive CTE, both drop sets anti-joined before packing.
    "q172_manifest_trimodal" ->
      s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
        |imgs AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
        |    (doc_id % 10 = 1) AS pert
        |  FROM ids),
        |px AS (
        |  SELECT media_id, x, y,
        |    CAST((LEAST((base * 31 + x * 17 + y * 7) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 13 + x * 5 + y * 11) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |        + LEAST((base * 29 + x * 3 + y * 19) % 256
        |            + CASE WHEN pert AND x = 0 AND y = 0 THEN 4 ELSE 0 END, 255)
        |         ) // 3 AS BIGINT) AS gray
        |  FROM imgs, range(16) t1(x), range(16) t2(y)),
        |bits AS (
        |  SELECT p1.media_id, g1.gy, g2.gx, (p1.gray > p2.gray) AS v
        |  FROM range(8) g1(gy), range(8) g2(gx)
        |  JOIN px p1 ON p1.x = (g2.gx * 15) // 8 AND p1.y = (g1.gy * 15) // 7
        |  JOIN px p2 ON p2.media_id = p1.media_id
        |    AND p2.x = ((g2.gx + 1) * 15) // 8 AND p2.y = (g1.gy * 15) // 7),
        |ham AS (
        |  SELECT b1.media_id AS d1, b2.media_id AS d2,
        |    CAST(SUM(CASE WHEN b1.v <> b2.v THEN 1 ELSE 0 END) AS INTEGER)
        |      AS hamming
        |  FROM bits b1 JOIN bits b2 ON b1.gy = b2.gy AND b1.gx = b2.gx
        |    AND b1.media_id < b2.media_id
        |  GROUP BY 1, 2),
        |sad AS (
        |  SELECT p1.media_id AS d1, p2.media_id AS d2,
        |    CAST(SUM(ABS(p1.gray - p2.gray)) AS BIGINT) AS sad
        |  FROM px p1 JOIN px p2 ON p1.x = p2.x AND p1.y = p2.y
        |    AND p1.media_id < p2.media_id
        |  GROUP BY 1, 2),
        |ipairs AS (
        |  SELECT h.d1, h.d2 FROM ham h JOIN sad s ON h.d1 = s.d1 AND h.d2 = s.d2
        |  WHERE h.hamming <= 3 AND s.sad <= 2048),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM ipairs
        |  UNION ALL SELECT d2, d1 FROM ipairs),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |img_drop AS (SELECT id FROM r GROUP BY id HAVING MIN(comp) < id),
        |aids AS (SELECT doc_id FROM documents
        |  WHERE doc_id >= ${graft.multimodal.Multimodal.AudioLo}
        |    AND doc_id < ${graft.multimodal.Multimodal.AudioHi}),
        |aud AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 10 = 6 THEN doc_id - 1 ELSE doc_id END AS base,
        |    (doc_id % 10 = 6) AS pert
        |  FROM aids),
        |apar AS (SELECT media_id, base, pert,
        |    256 + (base % 4) * 128 AS n FROM aud),
        |asm AS (SELECT media_id, n,
        |    list_transform(range(n), i ->
        |      ((base * 31 + i * 17) % 2003) - 1001
        |      + CASE WHEN pert AND i = 0 THEN 4 ELSE 0 END) AS sm
        |  FROM apar),
        |aen AS (SELECT media_id, n, sm,
        |    list_transform(range(n // 16), f ->
        |      list_sum(list_transform(range(f * 16, (f + 1) * 16),
        |        i -> CAST(sm[i + 1] AS BIGINT) * sm[i + 1]))) AS en
        |  FROM asm),
        |afp AS (SELECT media_id, n, sm,
        |    CAST(list_sum(list_transform(range(len(en) - 1), f ->
        |      CASE WHEN en[f + 2] > en[f + 1]
        |        THEN (CAST(1 AS BIGINT) << f) ELSE 0 END)) AS BIGINT) AS fp
        |  FROM aen),
        |apr AS (SELECT a.media_id AS d1, b.media_id AS d2
        |  FROM afp a JOIN afp b ON a.n = b.n AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.fp, b.fp)) <= 1
        |    AND list_sum(list_transform(range(a.n),
        |      i -> abs(a.sm[i + 1] - b.sm[i + 1]))) <= 1000),
        |aed AS (SELECT d1 AS src, d2 AS dst FROM apr
        |  UNION ALL SELECT d2, d1 FROM apr),
        |ar AS (
        |  SELECT src AS id, src AS comp FROM aed
        |  UNION
        |  SELECT aed.dst AS id, ar.comp FROM ar JOIN aed ON aed.src = ar.id),
        |aud_drop AS (SELECT id FROM ar GROUP BY id HAVING MIN(comp) < id),
        |w AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) WHERE word <> ''),
        |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
        |  FROM w GROUP BY doc_id),
        |keepers AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp),
        |tkq AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
        |    length(text) AS len
        |  FROM documents),
        |qual AS (SELECT doc_id, len(tk) AS n_tok FROM tkq
        |  WHERE CAST(alpha AS DOUBLE) / len >= 0.7 AND len(tk) >= 10
        |    AND doc_id % 50 <> 0),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tkq WHERE len(tk) >= 3)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT t.doc_id FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) t
        |  LEFT JOIN bench b ON t.g = b.g
        |  GROUP BY t.doc_id
        |  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 20 >= COUNT(*)),
        |kept AS (
        |  SELECT q.doc_id, q.n_tok FROM qual q
        |  JOIN keepers USING (doc_id)
        |  WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND q.doc_id NOT IN (SELECT id FROM img_drop)
        |    AND q.doc_id NOT IN (SELECT id FROM aud_drop)),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM kept)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, start_tok,
        |  CAST(start_tok // 128 AS BIGINT) AS first_seq,
        |  CAST((start_tok + n_tok - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |    AS n_seqs,
        |  (doc_id < 100) AS has_image,
        |  (doc_id >= ${graft.multimodal.Multimodal.AudioLo}
        |    AND doc_id < ${graft.multimodal.Multimodal.AudioHi}) AS has_audio
        |FROM c ORDER BY doc_id""".stripMargin,
    // q171 — the partitioned layout + DPP change nothing semantically:
    // the result is the plain join+agg over focus years (year % 3 = 0).
    "q171_partition_pruning" ->
      """WITH f AS (SELECT DISTINCT year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders)
        |SELECT y.yr, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        |FROM orders o
        |JOIN (SELECT yr FROM f WHERE yr % 3 = 0) y
        |  ON year(CAST(o.o_orderdate AS DATE)) = y.yr
        |GROUP BY y.yr ORDER BY y.yr""".stripMargin,
    // q173 — snake shard assignment: ROW_NUMBER over the same
    // (n_tok DESC, doc_id) total order, the same serpentine arithmetic,
    // per-shard totals.
    "q173_shard_balance" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 32 AS rr
        |  FROM c),
        |s AS (
        |  SELECT n_tok,
        |    CAST(CASE WHEN rr < 16 THEN rr ELSE 31 - rr END AS INTEGER)
        |      AS shard
        |  FROM r)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
        |  MAX(n_tok) AS max_tok, MIN(n_tok) AS min_tok
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // q187 — q173's assignment + an order-free per-shard digest sum:
    // the 60-bit md5-prefix digest re-parsed from hex with HUGEINT
    // arithmetic, summed mod 2^62-1 (all terms non-negative).
    "q187_shard_checksums" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 32 AS rr
        |  FROM c),
        |s AS (
        |  SELECT doc_id, n_tok,
        |    CAST(CASE WHEN rr < 16 THEN rr ELSE 31 - rr END AS INTEGER)
        |      AS shard
        |  FROM r),
        |h AS (
        |  SELECT shard, n_tok,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(doc_id || ':' || n_tok), 1, 15), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM s)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
        |  CAST(SUM(hv) % 4611686018427387903 AS BIGINT) AS content_sum
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    // q188 — the incremental path is standing ⊕ batch by construction
    // (IncrChecksumSpec binds it to the monolithic recompute), so the
    // oracle computes the full hash-shard receipt plus the batch delta.
    "q188_incr_checksums" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_tok,
        |    CAST(list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b) % 16 AS INTEGER) AS shard,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(doc_id || ':' || n_tok), 1, 15), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM c)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
        |  CAST(SUM(hv) % 4611686018427387903 AS BIGINT) AS content_sum,
        |  CAST(SUM(CASE WHEN doc_id % 10 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS batch_docs
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    // q189 — calendar-rule retention: DATE-level comparison on both
    // engines (exact under the pinned-UTC session for either parquet
    // timestamp flavor), hold register = user_id % 29 = 3.
    "q189_retention_sweep" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
        |    AND user_id % 29 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_expired,
        |  CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
        |    AND user_id % 29 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_held,
        |  CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_live
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q190 — q32's kernel with the candidate side PRE-filtered by the
    // document predicate (queries unrestricted).
    "q190_filtered_ann" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
        |elig AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    ROUND(list_sum(list_transform(range(1, len(q.u) + 1),
        |                                  i -> q.u[i] * c.u[i])), 4) AS sim
        |  FROM u q JOIN u c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |  WHERE c.vec_id IN (SELECT doc_id FROM elig)),
        |r AS (
        |  SELECT q_id, n_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
        |  FROM s)
        |SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // q178 — the layout (shard partitions, doc_id buckets) moves bytes,
    // not semantics: the oracle replays q87's pack (doc_id order), q173's
    // serpentine shard rank, the focus predicate, and the fetch join.
    "q178_epoch_loader" ->
      """WITH tc AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |pk AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM tc),
        |man AS (
        |  SELECT doc_id, n_tok, start_tok,
        |    CAST((start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
        |      AS n_seqs
        |  FROM pk),
        |allc AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS n_tok
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN rr < 16 THEN rr ELSE 31 - rr END AS INTEGER)
        |      AS shard
        |  FROM (SELECT doc_id,
        |      (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 32 AS rr
        |    FROM allc))
        |SELECT s.shard, m.doc_id, d.source, m.n_tok, m.start_tok, m.n_seqs
        |FROM man m JOIN sh s USING (doc_id) JOIN documents d USING (doc_id)
        |WHERE s.shard % 4 = 1
        |ORDER BY m.doc_id""".stripMargin,
    // q179 — keeper re-election replayed exactly: the q66 verified-pair
    // chain, components BEFORE (all edges) and AFTER (surviving edges,
    // both endpoints not taken down), survivors of affected clusters
    // joined to their new label (own id when isolated).
    "q179_takedown_keepers" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |ed2 AS (SELECT src, dst FROM ed
        |  WHERE src % 60 <> 0 AND dst % 60 <> 0),
        |r2 AS (
        |  SELECT src AS id, src AS comp FROM ed2
        |  UNION
        |  SELECT ed2.dst AS id, r2.comp FROM r2 JOIN ed2 ON ed2.src = r2.id),
        |lab2 AS (SELECT id, MIN(comp) AS comp FROM r2 GROUP BY id),
        |aff AS (SELECT DISTINCT comp FROM lab WHERE id % 60 = 0)
        |SELECT l.id AS doc_id, l.comp AS old_keeper,
        |  COALESCE(l2.comp, l.id) AS new_keeper,
        |  (l.comp % 60 = 0) AS keeper_removed,
        |  (COALESCE(l2.comp, l.id) <> l.comp) AS rehomed
        |FROM lab l JOIN aff ON aff.comp = l.comp
        |LEFT JOIN lab2 l2 ON l2.id = l.id
        |WHERE l.id % 60 <> 0
        |ORDER BY doc_id""".stripMargin,
    // q180 — the same before/after component chains plus corpus and
    // re-pack accounting as scalar CTEs; pack is contiguous so the
    // repacked manifest's max(last_seq) is (tot_tok - 1) // 128.
    "q180_takedown_audit" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |ed2 AS (SELECT src, dst FROM ed
        |  WHERE src % 60 <> 0 AND dst % 60 <> 0),
        |r2 AS (
        |  SELECT src AS id, src AS comp FROM ed2
        |  UNION
        |  SELECT ed2.dst AS id, r2.comp FROM r2 JOIN ed2 ON ed2.src = r2.id),
        |lab2 AS (SELECT id, MIN(comp) AS comp FROM r2 GROUP BY id),
        |tc AS (SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |keep AS (SELECT doc_id, n_tok FROM tc WHERE doc_id % 60 <> 0)
        |SELECT 'documents' AS artifact, 'rows_before' AS metric,
        |  CAST(COUNT(*) AS BIGINT) AS value FROM documents
        |UNION ALL SELECT 'documents', 'rows_removed',
        |  CAST(SUM(CASE WHEN doc_id % 60 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'documents', 'rows_after',
        |  CAST(SUM(CASE WHEN doc_id % 60 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'manifest', 'rows_after',
        |  CAST(COUNT(*) AS BIGINT) FROM keep
        |UNION ALL SELECT 'manifest', 'tot_tok_after',
        |  CAST(SUM(n_tok) AS BIGINT) FROM keep
        |UNION ALL SELECT 'manifest', 'last_seq_after',
        |  CAST((SUM(n_tok) - 1) // 128 AS BIGINT) FROM keep
        |UNION ALL SELECT 'residual', 'manifest_takedown_refs',
        |  CAST(SUM(CASE WHEN doc_id % 60 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM keep
        |UNION ALL SELECT 'clusters', 'n_before',
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) FROM lab
        |UNION ALL SELECT 'clusters', 'docs_before',
        |  CAST(COUNT(*) AS BIGINT) FROM lab
        |UNION ALL SELECT 'clusters', 'n_after',
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) FROM lab2
        |UNION ALL SELECT 'clusters', 'docs_after',
        |  CAST(COUNT(*) AS BIGINT) FROM lab2
        |UNION ALL SELECT 'residual', 'cluster_takedown_refs',
        |  CAST(SUM(CASE WHEN id % 60 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lab2
        |ORDER BY artifact, metric""".stripMargin,
    // q181 — subject-erasure discovery over the q176 plant: the mention
    // extraction is the identical regex; the 4-row request list is
    // derived arithmetic both engines share. LEFT join so a zero-hit
    // subject keeps its ledger row.
    "q181_subject_erasure" ->
      """WITH w AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || (doc_id % 20)
        |           || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN ' cc user' || ((doc_id + 7) % 20)
        |           || '@example.com too' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-' || printf('%03d', doc_id % 40)
        |           || '-' || printf('%04d', doc_id % 40) || ' ok'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN ' or 555-' || printf('%03d', (doc_id + 13) % 40)
        |           || '-' || printf('%04d', (doc_id + 13) % 40) || ' now'
        |         ELSE '' END AS raw
        |  FROM documents),
        |s AS (SELECT 'user' || n || '@example.com' AS subject
        |      FROM range(20) t(n) WHERE n % 5 = 2),
        |m AS (
        |  SELECT doc_id, unnest(list_distinct(regexp_extract_all(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS subject
        |  FROM w),
        |g AS (
        |  SELECT subject, COUNT(*) AS hits, MIN(doc_id) AS first_doc,
        |    MAX(doc_id) AS last_doc
        |  FROM m JOIN s USING (subject) GROUP BY 1)
        |SELECT s.subject AS subject,
        |  CAST(COALESCE(g.hits, 0) AS BIGINT) AS n_docs,
        |  g.first_doc AS first_doc, g.last_doc AS last_doc
        |FROM s LEFT JOIN g USING (subject)
        |ORDER BY subject""".stripMargin,
    // q182 — q180's audit with the erasure set DISCOVERED from content
    // (the q181 mention resolution) instead of id arithmetic, plus the
    // surviving-subject-refs residual only a content-keyed takedown can
    // express.
    "q182_subject_takedown" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || (doc_id % 20)
        |           || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN ' cc user' || ((doc_id + 7) % 20)
        |           || '@example.com too' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-' || printf('%03d', doc_id % 40)
        |           || '-' || printf('%04d', doc_id % 40) || ' ok'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN ' or 555-' || printf('%03d', (doc_id + 13) % 40)
        |           || '-' || printf('%04d', (doc_id + 13) % 40) || ' now'
        |         ELSE '' END AS raw
        |  FROM documents),
        |s AS (SELECT 'user' || n || '@example.com' AS subject
        |      FROM range(20) t(n) WHERE n % 5 = 2),
        |mm AS (
        |  SELECT m.doc_id, m.subject FROM (
        |    SELECT doc_id, unnest(list_distinct(regexp_extract_all(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS subject
        |    FROM w) m JOIN s USING (subject)),
        |tkset AS (SELECT DISTINCT doc_id FROM mm),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |ed2 AS (SELECT src, dst FROM ed
        |  WHERE src NOT IN (SELECT doc_id FROM tkset)
        |    AND dst NOT IN (SELECT doc_id FROM tkset)),
        |r2 AS (
        |  SELECT src AS id, src AS comp FROM ed2
        |  UNION
        |  SELECT ed2.dst AS id, r2.comp FROM r2 JOIN ed2 ON ed2.src = r2.id),
        |lab2 AS (SELECT id, MIN(comp) AS comp FROM r2 GROUP BY id),
        |tc AS (SELECT doc_id, COUNT(*) AS n_tok FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY doc_id),
        |keep AS (SELECT doc_id, n_tok FROM tc
        |  WHERE doc_id NOT IN (SELECT doc_id FROM tkset))
        |SELECT 'documents' AS artifact, 'rows_before' AS metric,
        |  CAST(COUNT(*) AS BIGINT) AS value FROM documents
        |UNION ALL SELECT 'documents', 'rows_removed',
        |  CAST(COUNT(*) AS BIGINT) FROM tkset
        |UNION ALL SELECT 'documents', 'rows_after',
        |  CAST((SELECT COUNT(*) FROM documents)
        |    - (SELECT COUNT(*) FROM tkset) AS BIGINT)
        |UNION ALL SELECT 'manifest', 'rows_after',
        |  CAST(COUNT(*) AS BIGINT) FROM keep
        |UNION ALL SELECT 'manifest', 'tot_tok_after',
        |  CAST(SUM(n_tok) AS BIGINT) FROM keep
        |UNION ALL SELECT 'manifest', 'last_seq_after',
        |  CAST((SUM(n_tok) - 1) // 128 AS BIGINT) FROM keep
        |UNION ALL SELECT 'residual', 'manifest_takedown_refs',
        |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM tkset)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM keep
        |UNION ALL SELECT 'clusters', 'n_before',
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) FROM lab
        |UNION ALL SELECT 'clusters', 'docs_before',
        |  CAST(COUNT(*) AS BIGINT) FROM lab
        |UNION ALL SELECT 'clusters', 'n_after',
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) FROM lab2
        |UNION ALL SELECT 'clusters', 'docs_after',
        |  CAST(COUNT(*) AS BIGINT) FROM lab2
        |UNION ALL SELECT 'residual', 'cluster_takedown_refs',
        |  CAST(SUM(CASE WHEN id IN (SELECT doc_id FROM tkset)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM lab2
        |UNION ALL SELECT 'residual', 'surviving_subject_refs',
        |  CAST((SELECT COUNT(*) FROM mm
        |    WHERE doc_id NOT IN (SELECT doc_id FROM tkset)) AS BIGINT)
        |ORDER BY artifact, metric""".stripMargin,
    // q183 — q32's deterministic-float discipline (round-4 in-order dot
    // sums on unit vectors); margin is the difference of the ROUNDED
    // sims, re-rounded, so both engines subtract identical doubles.
    "q183_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, label,
        |    list_transform(v, x -> x / nrm) AS u FROM n),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |    c.vec_id AS n_id, c.label AS n_label,
        |    ROUND(list_sum(list_transform(range(1, len(q.u) + 1),
        |                                  i -> q.u[i] * c.u[i])), 4) AS sim
        |  FROM u q JOIN u c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |p AS (SELECT q_id, MAX(sim) AS pos_sim FROM s
        |      WHERE n_label = q_label GROUP BY q_id),
        |r AS (
        |  SELECT q_id, q_label, n_id, n_label, sim,
        |    CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
        |  FROM s WHERE n_label <> q_label)
        |SELECT r.q_id AS q_id, r.q_label AS q_label, r.n_id AS n_id,
        |  r.n_label AS n_label, r.sim AS sim, r.rank AS rank,
        |  ROUND(r.sim - p.pos_sim, 4) AS margin
        |FROM r LEFT JOIN p USING (q_id) WHERE r.rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // q184 — the IVF-pruned mining path: q33's decimal-exact label
    // centroids rank foreign cells (unrounded in-order cosine, cell
    // tie-break), candidates priced with q183's round-4 unit-vector
    // dots; margin identical to q183's.
    "q184_hard_negatives_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nn AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
        |u AS (SELECT vec_id, label,
        |    list_transform(v, x -> x / nrm) AS u FROM nn),
        |d AS (
        |  SELECT label, gs.i AS pos, v[gs.i] AS x
        |  FROM v, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) gs),
        |cd AS (
        |  SELECT label AS cell, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS m
        |  FROM d GROUP BY label, pos),
        |cent AS (
        |  SELECT cell, list(m ORDER BY pos) AS centroid FROM cd GROUP BY cell),
        |q AS (SELECT vec_id AS q_id, label AS q_label, u AS qu
        |      FROM u WHERE vec_id < 10),
        |qa AS (
        |  SELECT q_id, q_label, qu, cell, row_number() OVER (
        |    PARTITION BY q_id ORDER BY
        |    (list_sum(list_transform(range(1, len(qu) + 1),
        |                             i -> qu[i] * centroid[i]))
        |     / (sqrt(list_sum(list_transform(qu, x -> x * x)))
        |      * sqrt(list_sum(list_transform(centroid, x -> x * x)))))
        |    DESC, cell) AS rnk
        |  FROM q, cent WHERE cell <> q_label),
        |probe AS (SELECT q_id, q_label, qu, cell FROM qa WHERE rnk <= 3),
        |cand AS (
        |  SELECT p.q_id, p.q_label, c.vec_id AS n_id, c.label AS n_label,
        |    ROUND(list_sum(list_transform(range(1, len(p.qu) + 1),
        |                                  i -> p.qu[i] * c.u[i])), 4) AS sim
        |  FROM probe p JOIN u c ON c.label = p.cell),
        |pos AS (
        |  SELECT q.q_id, MAX(ROUND(list_sum(list_transform(
        |      range(1, len(q.qu) + 1), i -> q.qu[i] * c.u[i])), 4)) AS pos_sim
        |  FROM q JOIN u c ON c.label = q.q_label AND c.vec_id <> q.q_id
        |  GROUP BY q.q_id),
        |r AS (
        |  SELECT q_id, q_label, n_id, n_label, sim,
        |    CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
        |  FROM cand)
        |SELECT r.q_id AS q_id, r.q_label AS q_label, r.n_id AS n_id,
        |  r.n_label AS n_label, r.sim AS sim, r.rank AS rank,
        |  ROUND(r.sim - p.pos_sim, 4) AS margin
        |FROM r LEFT JOIN pos p USING (q_id) WHERE r.rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // q174 — identical planted-PII construction and the identical
    // Java-regex ∩ RE2 patterns; DuckDB's regexp_replace needs the
    // explicit 'g' flag to match Spark's replace-all default.
    "q174_pii_scrub" ->
      """WITH w AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || doc_id || '@example.com now'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-' || printf('%03d', doc_id % 1000)
        |           || '-' || printf('%04d', doc_id % 10000) || ' ok'
        |         ELSE '' END AS raw
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER)
        |      AS n_email,
        |    CAST(len(regexp_extract_all(raw,
        |      '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
        |    CAST(length(regexp_replace(regexp_replace(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS BIGINT)
        |      AS clean_len,
        |    CAST(length(raw) AS BIGINT) AS raw_len
        |  FROM w)
        |SELECT * FROM m WHERE n_email + n_phone > 0
        |ORDER BY doc_id""".stripMargin,
    // q175 — the q66 exact-pairs + recursive-CTE component machinery
    // (valid under the spec-asserted LSH-recall-1 premise), singleton
    // comp = own doc_id, then the identical md5-first-hex split rule.
    "q175_leakproof_split" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |wc AS (
        |  SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tok,
        |    COALESCE(l.comp, t.doc_id) AS comp
        |  FROM tk t LEFT JOIN lab l ON l.id = t.doc_id),
        |sp AS (
        |  SELECT comp, n_tok,
        |    CASE WHEN substr(md5(CAST(comp AS VARCHAR)), 1, 1) < 'c'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(comp AS VARCHAR)), 1, 1) < 'e'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM wc)
        |SELECT split, CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_clusters,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tot_tok
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    // q176 — identical shared plant (incl. the second-value strides),
    // PER-MATCH pseudonyms: the same distinct-match lists and the same
    // longest-first fold of literal replace(), value-keyed md5 tokens.
    "q176_pii_pseudonymize" ->
      """WITH w AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || (doc_id % 20)
        |           || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN ' cc user' || ((doc_id + 7) % 20)
        |           || '@example.com too' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-' || printf('%03d', doc_id % 40)
        |           || '-' || printf('%04d', doc_id % 40) || ' ok'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN ' or 555-' || printf('%03d', (doc_id + 13) % 40)
        |           || '-' || printf('%04d', (doc_id + 13) % 40) || ' now'
        |         ELSE '' END AS raw
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, raw,
        |    list_sort(list_distinct(regexp_extract_all(raw,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS em,
        |    list_sort(list_distinct(regexp_extract_all(raw,
        |      '\b\d{3}-\d{3}-\d{4}\b'))) AS ph
        |  FROM w),
        |s1 AS (
        |  SELECT doc_id, em, ph,
        |    list_reduce(list_prepend(raw,
        |      list_transform(list_sort(list_transform(em,
        |        m -> printf('%04d', 9999 - length(m)) || m)),
        |        t -> substr(t, 5))),
        |      (acc, m) -> replace(acc, m,
        |        '<EMAIL:' || substr(md5(m), 1, 8) || '>')) AS se
        |  FROM x),
        |s2 AS (
        |  SELECT doc_id, em, ph,
        |    list_reduce(list_prepend(se,
        |      list_transform(list_sort(list_transform(ph,
        |        m -> printf('%04d', 9999 - length(m)) || m)),
        |        t -> substr(t, 5))),
        |      (acc, m) -> replace(acc, m,
        |        '<PHONE:' || substr(md5(m), 1, 8) || '>')) AS scrub
        |  FROM s1),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN len(em) > 0 THEN array_to_string(list_transform(em,
        |      m -> '<EMAIL:' || substr(md5(m), 1, 8) || '>'), ',') END
        |      AS email_pseudo,
        |    CASE WHEN len(ph) > 0 THEN array_to_string(list_transform(ph,
        |      m -> '<PHONE:' || substr(md5(m), 1, 8) || '>'), ',') END
        |      AS phone_pseudo,
        |    md5(scrub) AS pseudo_md5
        |  FROM s2)
        |SELECT doc_id, email_pseudo, phone_pseudo, pseudo_md5 FROM p
        |WHERE email_pseudo IS NOT NULL OR phone_pseudo IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // q161 — the bucketed layout is an execution strategy, not a
    // semantics change: the result is exactly the plain join+agg.
    "q161_bucket_join" ->
      """SELECT c.c_custkey AS custkey, c.c_mktsegment AS mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey % 10 = 0
        |GROUP BY 1, 2 ORDER BY custkey""".stripMargin,
    // q162 — every check restated as a scalar SELECT; UNION ALL is the
    // ledger. Names/values must match the engine's exactly.
    "q162_constraint_audit" ->
      """WITH li AS (SELECT
        |    SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS qty,
        |    SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS rf,
        |    SUM(CASE WHEN l_extendedprice < 0.0 THEN 1 ELSE 0 END) AS pr,
        |    SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS disc,
        |    COUNT(*) AS n FROM lineitem),
        |o AS (SELECT
        |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS dt,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS st,
        |    COUNT(*) AS n FROM orders),
        |d AS (SELECT
        |    SUM(CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN 1 ELSE 0 END) AS emp,
        |    SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS lc,
        |    COUNT(*) AS n FROM documents),
        |ck AS (
        |  SELECT 'li_qty_range' AS check_name, 'lineitem' AS tbl, qty AS violations, n AS total FROM li
        |  UNION ALL SELECT 'li_returnflag_domain', 'lineitem', rf, n FROM li
        |  UNION ALL SELECT 'li_price_nonneg', 'lineitem', pr, n FROM li
        |  UNION ALL SELECT 'li_discount_range', 'lineitem', disc, n FROM li
        |  UNION ALL SELECT 'ord_date_complete', 'orders', dt, n FROM o
        |  UNION ALL SELECT 'ord_status_domain', 'orders', st, n FROM o
        |  UNION ALL SELECT 'doc_text_nonempty', 'documents', emp, n FROM d
        |  UNION ALL SELECT 'doc_len_consistent', 'documents', lc, n FROM d
        |  UNION ALL SELECT 'ord_custkey_fk', 'orders',
        |    (SELECT COUNT(*) FROM orders oo WHERE oo.o_custkey IS NULL
        |       OR NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = oo.o_custkey)),
        |    (SELECT COUNT(*) FROM orders)
        |  UNION ALL SELECT 'li_orderkey_fk', 'lineitem',
        |    (SELECT COUNT(*) FROM lineitem ll WHERE ll.l_orderkey IS NULL
        |       OR NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = ll.l_orderkey)),
        |    (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL SELECT 'cust_key_unique', 'customer',
        |    (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer),
        |    (SELECT COUNT(*) FROM customer)
        |  UNION ALL SELECT 'doc_id_unique', 'documents',
        |    (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents),
        |    (SELECT COUNT(*) FROM documents)
        |  UNION ALL SELECT 'emb_dim_uniform', 'embeddings',
        |    (SELECT COUNT(*) FILTER (WHERE len(embedding) <>
        |       (SELECT MIN(len(embedding)) FROM embeddings)) FROM embeddings),
        |    (SELECT COUNT(*) FROM embeddings))
        |SELECT check_name, tbl, CAST(violations AS BIGINT) AS violations,
        |  CAST(total AS BIGINT) AS total, violations = 0 AS pass
        |FROM ck ORDER BY check_name""".stripMargin,
    "q153_trustrank" -> trustrankOracleSql,
    // q130 — per-source P5/P95 length trim on a width-16 integer bucket
    // histogram; cut-points via exact integer comparison
    // (100·cum >= total·p ⇔ cum >= ceil(total·p/100)).
    "q130_adaptive_length" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |h AS (SELECT source, n_tok // 16 AS bucket, count(*) AS cnt
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT source, bucket,
        |    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |    SUM(cnt) OVER (PARTITION BY source) AS total
        |  FROM h),
        |cuts AS (SELECT source,
        |    MIN(CASE WHEN cum * 100 >= total * 5 THEN bucket END) AS b05,
        |    MIN(CASE WHEN cum * 100 >= total * 95 THEN bucket END) AS b95
        |  FROM c GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_tok,
        |  CAST(b05 * 16 AS BIGINT) AS lo_tok,
        |  CAST((b95 + 1) * 16 - 1 AS BIGINT) AS hi_tok,
        |  CAST(CASE WHEN d.n_tok // 16 BETWEEN b05 AND b95
        |       THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM d JOIN cuts ON d.source = cuts.source
        |ORDER BY d.doc_id""".stripMargin,
    // q131 — the q119 pair arithmetic (int64 dot/norms, cosine rounded
    // 6) symmetrized, ranked per doc by integer micro-units of the
    // rounded cosine (exact in both engines), neighbor id on ties.
    "q131_knn_graph" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3),
        |gt AS (SELECT doc_id, gram, count(*) AS tfv FROM g GROUP BY 1, 2),
        |dfv AS (SELECT doc_id, gram, tfv,
        |    count(*) OVER (PARTITION BY gram) AS df FROM gt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w8 AS (SELECT doc_id, gram,
        |    CAST(ROUND(tfv * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |      * 10000) AS BIGINT) AS wi
        |  FROM dfv, n WHERE df <= 50),
        |nrm AS (SELECT doc_id, SUM(wi * wi) AS n2 FROM w8 GROUP BY 1),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    SUM(a.wi * b.wi) AS dot
        |  FROM w8 a JOIN w8 b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT d1, d2,
        |    CAST(ROUND(ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6)
        |      * 1000000) AS BIGINT) AS cos_u
        |  FROM dots JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2
        |  WHERE ROUND(dot / (sqrt(x.n2) * sqrt(y.n2)), 6) >= 0.2),
        |sym AS (SELECT d1 AS doc_id, d2 AS nbr, cos_u FROM c
        |  UNION ALL SELECT d2, d1, cos_u FROM c),
        |rk AS (SELECT doc_id, nbr, cos_u,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY cos_u DESC, nbr) AS rk FROM sym)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rank, nbr AS nbr_id,
        |  ROUND(CAST(cos_u AS DOUBLE) / 1000000, 6) AS cosine
        |FROM rk WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q132_novelty" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM tk WHERE len(w) >= 3)),
        |f AS (SELECT doc_id, gram,
        |    MIN(doc_id) OVER (PARTITION BY gram) AS first_id FROM g),
        |per AS (SELECT doc_id, count(*) AS n_grams,
        |    CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN per.n_grams IS NOT NULL THEN
        |    ROUND(CAST(per.n_novel AS DOUBLE) / per.n_grams, 6) END
        |    AS novelty
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q133 — Morton z-value rebuilt arithmetically: bit i of x contributes
    // ((x//2^i)%2)·4^i, bit i of y twice that, disjoint bits so sum ≡ OR.
    "q133_zorder_layout" -> zorderOracleSql,
    "q134_scd2_merge" ->
      """WITH u AS (
        |  SELECT c_custkey, ROUND(c_acctbal + 100.5, 2) AS new_bal
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT c.c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal,
        |  DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |  TRUE AS is_current
        |FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM u)
        |UNION ALL
        |SELECT c.c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal,
        |  DATE '1990-01-01' AS valid_from, DATE '1995-06-01' AS valid_to,
        |  FALSE AS is_current
        |FROM customer c WHERE c.c_custkey IN (SELECT c_custkey FROM u)
        |UNION ALL
        |SELECT c.c_custkey, c_name, u.new_bal AS acctbal,
        |  DATE '1995-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |  TRUE AS is_current
        |FROM customer c JOIN u ON c.c_custkey = u.c_custkey
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // q185 — the point-in-time read over the q134 dimension: equi-join
    // on the key, interval predicate as the residual filter; o_orderkey
    // is unique so the ORDER BY is total.
    "q185_scd2_asof_read" ->
      """WITH u AS (
        |  SELECT c_custkey, ROUND(c_acctbal + 100.5, 2) AS new_bal
        |  FROM customer WHERE c_custkey % 10 = 3),
        |scd AS (
        |  SELECT c.c_custkey, ROUND(c_acctbal, 2) AS acctbal,
        |    DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    TRUE AS is_current
        |  FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM u)
        |  UNION ALL
        |  SELECT c.c_custkey, ROUND(c_acctbal, 2) AS acctbal,
        |    DATE '1990-01-01', DATE '1995-06-01', FALSE
        |  FROM customer c WHERE c.c_custkey IN (SELECT c_custkey FROM u)
        |  UNION ALL
        |  SELECT c.c_custkey, u.new_bal, DATE '1995-06-01',
        |    CAST(NULL AS DATE), TRUE
        |  FROM customer c JOIN u ON c.c_custkey = u.c_custkey)
        |SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
        |  CAST(o.o_orderdate AS DATE) AS o_orderdate,
        |  s.acctbal AS acctbal, s.valid_from AS valid_from,
        |  s.is_current AS is_current
        |FROM orders o JOIN scd s ON s.c_custkey = o.o_custkey
        |  AND s.valid_from <= CAST(o.o_orderdate AS DATE)
        |  AND (s.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < s.valid_to)
        |ORDER BY o_orderkey""".stripMargin,
    // q186 — two-hop FK cascade: customers % 97 = 5, their orders, the
    // orders' lineitems; l_quantity values are integral so the double
    // sum is exact in both engines.
    "q186_cascade_erasure" ->
      """WITH subj AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 5),
        |dord AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM subj))
        |SELECT 'customer' AS artifact, 'rows_before' AS metric,
        |  CAST(COUNT(*) AS BIGINT) AS value FROM customer
        |UNION ALL SELECT 'customer', 'rows_removed',
        |  CAST(COUNT(*) AS BIGINT) FROM subj
        |UNION ALL SELECT 'customer', 'rows_after',
        |  CAST((SELECT COUNT(*) FROM customer)
        |    - (SELECT COUNT(*) FROM subj) AS BIGINT)
        |UNION ALL SELECT 'orders', 'rows_before',
        |  CAST(COUNT(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders', 'rows_removed',
        |  CAST(COUNT(*) AS BIGINT) FROM dord
        |UNION ALL SELECT 'orders', 'rows_after',
        |  CAST((SELECT COUNT(*) FROM orders)
        |    - (SELECT COUNT(*) FROM dord) AS BIGINT)
        |UNION ALL SELECT 'lineitem', 'rows_before',
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'lineitem', 'rows_removed',
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM dord)
        |UNION ALL SELECT 'lineitem', 'rows_after',
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dord)
        |UNION ALL SELECT 'lineitem', 'qty_removed',
        |  CAST(COALESCE(SUM(l_quantity), 0) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM dord)
        |UNION ALL SELECT 'residual', 'orders_orphaned_refs',
        |  CAST(COUNT(*) AS BIGINT) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM subj)
        |    AND o_custkey IN (SELECT c_custkey FROM subj)
        |UNION ALL SELECT 'residual', 'lineitem_orphaned_refs',
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dord)
        |    AND l_orderkey IN (SELECT o_orderkey FROM dord)
        |ORDER BY artifact, metric""".stripMargin,
    // q135 — α = 0.5 temperature weights via the q88 decimal treatment,
    // quota = floor(rounded-weight · 200) clamped ≥ 1, draw in md5 order
    // (ROW_NUMBER is the oracle-parity form of the bounded-buffer draw).
    "q135_temperature_sample" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |    CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(20,6)) AS wr
        |  FROM s),
        |tot AS (SELECT SUM(wr) AS wtot FROM w),
        |q AS (SELECT source,
        |    ROUND(CAST(wr AS DOUBLE) / CAST(wtot AS DOUBLE), 6) AS weight,
        |    GREATEST(1, CAST(FLOOR(
        |      ROUND(CAST(wr AS DOUBLE) / CAST(wtot AS DOUBLE), 6) * 200)
        |      AS BIGINT)) AS quota
        |  FROM w, tot),
        |r AS (SELECT d.source, md5(CAST(doc_id AS VARCHAR)) AS sample_key,
        |    doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents d)
        |SELECT r.source, CAST(rk AS BIGINT) AS rk, sample_key, doc_id,
        |  q.quota, q.weight
        |FROM r JOIN q ON r.source = q.source
        |WHERE rk <= q.quota
        |ORDER BY r.source, rk""".stripMargin,
    // q136 — canonical-entity linkage: names collapse to (name, count)
    // first, pairs only within the head-noun block, Levenshtein ≤ 2.
    "q136_entity_resolution" ->
      """WITH nm AS (SELECT p_name, COUNT(*) AS n,
        |    list_extract(string_split(p_name, ' '), -1) AS block
        |  FROM part GROUP BY p_name)
        |SELECT a.block, a.p_name AS name1, b.p_name AS name2,
        |  a.n AS n1, b.n AS n2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  ROUND(1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
        |    / GREATEST(length(a.p_name), length(b.p_name)), 4) AS sim,
        |  a.n * b.n AS linked_pairs
        |FROM nm a JOIN nm b ON a.block = b.block AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY a.block, name1, name2""".stripMargin,
    // q137 — the JL projection matrix re-derived arithmetically (the
    // RandomProjectExpr splitmix64 chain in HUGEINT, domain tag 63), then
    // in-order double dot products — exact to the final ROUND.
    "q137_random_projection" -> jlProjectionOracleSql,
    // q138 — interpolated Kneser–Ney: identical expression-tree order on
    // both sides so the doubles agree to the final ROUND.
    "q138_kneser_ney" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |bl AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS g
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS cnt
        |  FROM bl GROUP BY 1, 2),
        |f AS (SELECT w1, SUM(cnt) AS c1, COUNT(*) AS nf FROM bg GROUP BY w1),
        |p AS (SELECT w2, COUNT(*) AS np FROM bg GROUP BY w2),
        |tt AS (SELECT COUNT(*) AS tt FROM bg)
        |SELECT bg.w1, bg.w2, CAST(cnt AS BIGINT) AS cnt,
        |  ROUND(
        |    GREATEST(CAST(cnt AS DOUBLE) - 0.75, 0.0)
        |      / CAST(c1 AS DOUBLE)
        |    + (0.75 * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE))
        |      * (CAST(np AS DOUBLE) / CAST(tt AS DOUBLE)), 6) AS pkn
        |FROM bg JOIN f USING (w1) JOIN p USING (w2), tt
        |ORDER BY cnt DESC, w1, w2 LIMIT 200""".stripMargin,
    // q139 — repeated-span removal: positions covered by a non-first
    // occurrence of a repeated 3-gram drop; text rebuilt in pos order.
    "q139_span_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok,
        |    unnest(range(1, len(tk) + 1)) AS pos FROM t),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> {'p': i, 'g': array_to_string(list_slice(tk, i, i + 2), ' ')}))
        |    AS s
        |  FROM t WHERE len(tk) >= 3),
        |gr AS (SELECT doc_id, s.p AS p, s.g AS g FROM g),
        |fo AS (SELECT doc_id, g, MIN(p) AS minp FROM gr GROUP BY doc_id, g),
        |rep AS (SELECT gr.doc_id, gr.p FROM gr JOIN fo
        |    ON gr.doc_id = fo.doc_id AND gr.g = fo.g WHERE gr.p > fo.minp),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 3)) AS pos FROM rep),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM t)
        |SELECT nt.doc_id, nt.n_tok,
        |  nt.n_tok - COALESCE(rb.n_kept, 0) AS n_dropped,
        |  ROUND(CAST(nt.n_tok - COALESCE(rb.n_kept, 0) AS DOUBLE)
        |    / CAST(nt.n_tok AS DOUBLE), 6) AS drop_ratio,
        |  substr(COALESCE(rb.cleaned, ''), 1, 80) AS cleaned_prefix
        |FROM nt LEFT JOIN rb ON nt.doc_id = rb.doc_id
        |ORDER BY nt.doc_id""".stripMargin,
    "q140_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
        |      AS fp2
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp2
        |  FROM documents WHERE doc_id % 19 = 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v2.fp2 IS NULL THEN 'removed'
        |       WHEN v1.fp1 IS NULL THEN 'added'
        |       WHEN v1.fp1 <> v2.fp2 THEN 'changed' END AS status,
        |  v1.fp1 AS fp1, v2.fp2 AS fp2
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE (CASE WHEN v2.fp2 IS NULL THEN 'removed'
        |       WHEN v1.fp1 IS NULL THEN 'added'
        |       WHEN v1.fp1 <> v2.fp2 THEN 'changed' END) IS NOT NULL
        |ORDER BY doc_id, status""".stripMargin,
    // q141 — q45's 90/10 split audited for rare-5-gram overlap (df ≤ 2).
    "q141_split_leakage" ->
      """WITH t AS (SELECT doc_id,
        |    doc_id * 48271 % 2147483647 % 100 AS b,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, b,
        |    unnest(list_transform(range(1, len(tk) - 3),
        |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
        |  FROM t WHERE len(tk) >= 5),
        |df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
        |rare AS (SELECT g FROM df WHERE df <= 2),
        |rg AS (SELECT g.doc_id, g.b, g.g FROM g JOIN rare USING (g)),
        |tr AS (SELECT DISTINCT g FROM rg WHERE b < 90)
        |SELECT rg.doc_id,
        |  COUNT(*) AS n_rare_grams,
        |  CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky,
        |  ROUND(CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 6) AS leak_frac,
        |  SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) > 0 AS leaked
        |FROM rg LEFT JOIN tr ON rg.g = tr.g
        |WHERE rg.b >= 90
        |GROUP BY rg.doc_id
        |ORDER BY rg.doc_id""".stripMargin,
    // q142 — cross-document span removal: a 3-gram occurrence survives
    // only at the globally first (doc_id, pos); covered positions drop.
    "q142_crossdoc_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok,
        |    unnest(range(1, len(tk) + 1)) AS pos FROM t),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> {'p': i, 'g': array_to_string(list_slice(tk, i, i + 2), ' ')}))
        |    AS s
        |  FROM t WHERE len(tk) >= 3),
        |gr AS (SELECT doc_id, s.p AS p, s.g AS g FROM g),
        |fd AS (SELECT g, MIN(doc_id) AS fd FROM gr GROUP BY g),
        |fo AS (SELECT gr.g, fd.fd, MIN(gr.p) AS minp FROM gr
        |    JOIN fd ON gr.g = fd.g AND gr.doc_id = fd.fd
        |  GROUP BY gr.g, fd.fd),
        |rep AS (SELECT gr.doc_id, gr.p FROM gr JOIN fo ON gr.g = fo.g
        |  WHERE gr.doc_id <> fo.fd OR gr.p > fo.minp),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 3)) AS pos FROM rep),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM t)
        |SELECT nt.doc_id, nt.n_tok,
        |  nt.n_tok - COALESCE(rb.n_kept, 0) AS n_dropped,
        |  CASE WHEN nt.n_tok > 0 THEN
        |    ROUND(CAST(nt.n_tok - COALESCE(rb.n_kept, 0) AS DOUBLE)
        |      / CAST(nt.n_tok AS DOUBLE), 6) END AS drop_ratio,
        |  substr(COALESCE(rb.cleaned, ''), 1, 80) AS cleaned_prefix
        |FROM nt LEFT JOIN rb ON nt.doc_id = rb.doc_id
        |ORDER BY nt.doc_id""".stripMargin,
    "q143_countmin" -> countMinOracleSql,
    "q144_dsir_weights" -> dsirOracleSql,
    "q145_bpe_merges" -> bpeOracleSql,
    "q146_kn_perplexity" -> knPerplexityOracleSql,
    "q148_incremental_sketch" -> incrementalSketchOracleSql,
    "q149_kmv_distinct" -> kmvOracleSql,
    "q150_kmv_setops" -> kmvSetOpsOracleSql,
    // q151 — CMS inner-product join-size: the q148 grid split folded to
    // per-row cell products, min over rows, against the exact join size.
    "q151_cms_joinsize" ->
      ("""WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS word FROM documents),
        |cw AS (SELECT word,
        |    CAST(SUM(CASE WHEN doc_id % 10 < 7 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(SUM(CASE WHEN doc_id % 10 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_incr
        |  FROM tk GROUP BY word),
        |ky AS (SELECT word, n_base, n_incr, unnest(range(0, 4)) AS r FROM cw),
        |k2 AS (SELECT word, n_base, n_incr, r,
        |    CAST(r AS VARCHAR) || '#' || word AS hkey FROM ky),
        |hp AS (SELECT word, n_base, n_incr, r,
        |    list_reduce(list_transform(string_split(hkey, ''),
        |        c -> ord(c)::HUGEINT),
        |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
        |  FROM k2),
        |h1 AS (SELECT word, n_base, n_incr, r, xor(p, p//1073741824) AS x1
        |  FROM hp),
        |h2 AS (SELECT word, n_base, n_incr, r,
        |  ((x1%4294967296)*13787848793156543929::HUGEINT
        |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
        |     *4294967296)
        |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
        |h3 AS (SELECT word, n_base, n_incr, r, xor(x2, x2//134217728) AS x3
        |  FROM h2),
        |h4 AS (SELECT word, n_base, n_incr, r,
        |  ((x3%4294967296)*10723151780598845931::HUGEINT
        |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
        |     *4294967296)
        |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
        |h5 AS (SELECT word, n_base, n_incr, r, xor(x4, x4//2147483648) AS x5
        |  FROM h4),
        |cell AS (SELECT n_base, n_incr, CAST(r AS INTEGER) AS r,
        |    CAST(x5 % 16 AS BIGINT) AS bucket FROM h5),
        |grid AS (SELECT r, bucket,
        |    CAST(SUM(n_base) AS BIGINT) AS bc,
        |    CAST(SUM(n_incr) AS BIGINT) AS ic
        |  FROM cell GROUP BY r, bucket),
        |pr AS (SELECT r, CAST(SUM(bc * ic) AS BIGINT) AS prod
        |  FROM grid GROUP BY r),
        |es AS (SELECT MIN(prod) AS est_join_size FROM pr),
        |tr AS (SELECT CAST(SUM(n_base * n_incr) AS BIGINT) AS true_join_size
        |  FROM cw)
        |SELECT tr.true_join_size, es.est_join_size,
        |  es.est_join_size - tr.true_join_size AS overcount
        |FROM tr, es""".stripMargin),
    // q147 — Gopher rule audit: integer cross-multiplied thresholds, no
    // float comparison anywhere (see TextAnalysis.q147).
    "q147_gopher_rules" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS ws
        |  FROM documents),
        |s AS (SELECT source, len(ws) AS n,
        |    len(list_distinct(ws)) AS nd,
        |    list_sum(list_transform(ws, w -> len(w))) AS chars,
        |    len(list_filter(list_distinct(ws),
        |      u -> u IN ('the', 'and', 'of', 'to', 'in', 'is', 'a'))) AS stops,
        |    list_max(list_transform(list_distinct(ws),
        |      u -> len(list_filter(ws, x -> x = u)))) AS maxf
        |  FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n < 20 OR n > 80 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_len,
        |  CAST(SUM(CASE WHEN chars < n * 4 OR chars > n * 10 THEN 1 ELSE 0
        |    END) AS BIGINT) AS f_meanlen,
        |  CAST(SUM(CASE WHEN stops < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_stop,
        |  CAST(SUM(CASE WHEN nd * 10 < n * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_ttr,
        |  CAST(SUM(CASE WHEN maxf * 5 > n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_rep,
        |  CAST(SUM(CASE WHEN n BETWEEN 20 AND 80 AND chars >= n * 4
        |        AND chars <= n * 10 AND stops >= 2 AND nd * 10 >= n * 3
        |        AND maxf * 5 <= n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    // q191 — PSI drift ledger: Laplace-0.5 smoothing over the union
    // bucket set, identical expression-tree order on both engines
    // (the q138 double discipline); per-feature totals via the q88
    // decimal treatment so the sum is order-independent.
    // slice = md5-word of doc_id mod 10 (NOT raw doc_id % 10: the
    // fixture interleaves doc_id ≡ source mod 20, so a residue slice IS
    // a total source shift — see Audit.q191's scaladoc)
    "q191_drift_psi" ->
      """WITH d AS (SELECT *,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b) % 10 >= 7 AS is_cur
        |  FROM documents),
        |fb AS (
        |  SELECT 'source' AS feature, source AS bucket, is_cur FROM d
        |  UNION ALL SELECT 'lang', lang, is_cur FROM d
        |  UNION ALL SELECT 'len_bin',
        |    CAST(CAST(LEAST(FLOOR(CAST(n_chars AS DOUBLE) / 500.0), 9.0)
        |      AS BIGINT) AS VARCHAR), is_cur FROM d),
        |c AS (SELECT feature, bucket,
        |    SUM(CASE WHEN NOT is_cur THEN 1 ELSE 0 END) AS n_ref,
        |    SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
        |  FROM fb GROUP BY 1, 2),
        |t AS (SELECT feature, SUM(n_ref) AS tot_ref, SUM(n_cur) AS tot_cur,
        |    COUNT(*) AS nb FROM c GROUP BY 1),
        |b AS (SELECT c.feature, c.bucket, n_ref, n_cur,
        |    (CAST(n_ref AS DOUBLE) + 0.5)
        |      / (CAST(tot_ref AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS praw,
        |    (CAST(n_cur AS DOUBLE) + 0.5)
        |      / (CAST(tot_cur AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS craw
        |  FROM c JOIN t USING (feature)),
        |w AS (SELECT feature, bucket, n_ref, n_cur, praw, craw,
        |    (craw - praw) * ln(craw / praw) AS term FROM b)
        |SELECT feature, bucket, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  ROUND(praw, 6) AS p_ref, ROUND(craw, 6) AS p_cur,
        |  ROUND(term, 6) AS psi
        |FROM w
        |UNION ALL
        |SELECT feature, '__psi_total', CAST(SUM(n_ref) AS BIGINT),
        |  CAST(SUM(n_cur) AS BIGINT), 1.0, 1.0,
        |  CAST(SUM(CAST(ROUND(term, 6) AS DECIMAL(20,6))) AS DOUBLE)
        |FROM w GROUP BY feature
        |ORDER BY feature, bucket""".stripMargin,
    // q192 — priority sampling: w/u with the md5-word uniform (q187's
    // hex-parse idiom); both factors exact integers in double and the
    // two divisions IEEE correctly-rounded, so the priorities (and hence
    // the top-k SET and its order) are bit-identical across engines —
    // ROW_NUMBER is the oracle-parity form of the bounded heap.
    "q192_priority_sample" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
        |    CAST(n_chars AS DOUBLE)
        |      / ((CAST(list_reduce(list_transform(
        |            string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |            ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |            (a, b) -> a * 16 + b) AS DOUBLE) + 1.0)
        |         / 4294967296.0) AS priority
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars, priority,
        |    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk
        |  FROM p)
        |SELECT CAST(rk AS BIGINT) AS rk, doc_id, source, n_chars,
        |  ROUND(priority, 6) AS priority
        |FROM r WHERE rk <= 300 ORDER BY rk""".stripMargin,
    // q193 — order-preserving concat-and-cut compaction: bin = integer
    // division of the running START offset by cap (the window form is
    // the oracle-parity twin of the two-pass distributed prefix sum).
    "q193_compaction_plan" ->
      """WITH f AS (SELECT doc_id, n_chars AS bytes,
        |    COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM documents),
        |b AS (SELECT doc_id, bytes, strt, strt // 4096 AS bin FROM f)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  ROUND(CAST(SUM(bytes) AS DOUBLE) / 4096.0, 6) AS fill,
        |  MAX(strt + bytes) > (bin + 1) * 4096 AS over_cap
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // q194 — alignment gate: PNG is lossless so the image "embedding"
    // (exact channel sums) replays from the closed-form pixel formula
    // (the q85 idiom); both vectors integer, score = two IEEE sqrts +
    // mult + div, identical op order ⇒ bit-identical; keep compares the
    // UNROUNDED score on both engines.
    "q194_crossmodal_align" ->
      """WITH img AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id*31 + x*17 + y*7) % 256) AS BIGINT) AS rs,
        |    CAST(SUM((doc_id*13 + x*5 + y*11) % 256) AS BIGINT) AS gs,
        |    CAST(SUM((doc_id*29 + x*3 + y*19) % 256) AS BIGINT) AS bs
        |  FROM documents, range(16) t1(x), range(16) t2(y)
        |  WHERE doc_id < 200 GROUP BY doc_id),
        |txt AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(lower(text), '[^a-i]', '', 'g')) AS BIGINT) AS t1,
        |    CAST(length(regexp_replace(lower(text), '[^j-r]', '', 'g')) AS BIGINT) AS t2,
        |    CAST(length(regexp_replace(lower(text), '[^s-z]', '', 'g')) AS BIGINT) AS t3
        |  FROM documents WHERE doc_id < 200),
        |a AS (
        |  SELECT i.doc_id, rs, gs, bs, t1, t2, t3,
        |    CAST(rs*t1 + gs*t2 + bs*t3 AS DOUBLE)
        |      / (sqrt(CAST(rs*rs + gs*gs + bs*bs AS DOUBLE))
        |         * sqrt(CAST(t1*t1 + t2*t2 + t3*t3 AS DOUBLE))) AS raw
        |  FROM img i JOIN txt USING (doc_id))
        |SELECT doc_id, rs, gs, bs, t1, t2, t3,
        |  ROUND(raw, 6) AS align, raw >= 0.975 AS keep
        |FROM a ORDER BY doc_id""".stripMargin,
    // q195 — the observed same-pass metrics must equal a from-scratch
    // recomputation of keeper election + gate + aggregates.
    "q195_observed_metrics" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents),
        |s AS (SELECT * FROM k WHERE doc_id = keeper AND n_chars >= 100)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_written,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM s""".stripMargin,
    // q196 — the incremental merge must equal the monolithic replay
    // over the append order (standing files first, then the batch,
    // each in doc_id order) — the oracle IS that replay.
    "q196_incr_compaction" ->
      """WITH f AS (SELECT doc_id, n_chars AS bytes,
        |    CASE WHEN doc_id % 10 >= 7 THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |o AS (SELECT doc_id, bytes, b,
        |    COALESCE(SUM(bytes) OVER (ORDER BY b, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM f),
        |g AS (SELECT doc_id, bytes, b, strt, strt // 4096 AS bin FROM o)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  ROUND(CAST(SUM(bytes) AS DOUBLE) / 4096.0, 6) AS fill,
        |  MAX(strt + bytes) > (bin + 1) * 4096 AS over_cap,
        |  CAST(SUM(b) AS BIGINT) AS batch_files
        |FROM g GROUP BY bin ORDER BY bin""".stripMargin,
    // q197 — typed JSON paths replayed with DuckDB's JSON operators
    // (the enriched meta fields are derivable without re-building the
    // nested doc: plen = length(props), missing ≡ NULL).
    "q197_variant_props" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'$.k' AS INTEGER)) AS min_k,
        |  MAX(CAST(props->>'$.k' AS INTEGER)) AS max_k,
        |  CAST(SUM(CAST(length(props) AS BIGINT)) AS BIGINT) AS sum_plen,
        |  CAST(COUNT(*) AS BIGINT) AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q198 — the IDENTICAL recursive CTE (DuckDB spells integer
    // division // where Spark SQL spells DIV).
    "q198_recursive_cte" ->
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS node, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT node // 10 AS node, depth + 1 AS depth
        |  FROM chain WHERE node >= 10
        |)
        |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct,
        |  CAST(SUM(node) AS BIGINT) AS sum_nodes
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin,
    // q199 — q64's interval join with the purchase side preserved
    // (LEFT OUTER) and the per-purchase attribution rollup.
    "q199_attrib_outer" ->
      """WITH c AS (SELECT event_id AS c_id, CAST(ts AS TIMESTAMP) AS c_ts,
        |    user_id AS c_user FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |    user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, purchase_id, purchase_ts,
        |  CAST(COUNT(c_id) AS BIGINT) AS n_clicks,
        |  MIN(c_id) AS first_click,
        |  COUNT(c_id) > 0 AS attributed
        |FROM p LEFT JOIN c ON c_user = user_id
        |  AND c_ts <= purchase_ts
        |  AND c_ts >= purchase_ts - INTERVAL 30 MINUTE
        |GROUP BY user_id, purchase_id, purchase_ts
        |ORDER BY purchase_id""".stripMargin,
    // q200 — every section replays its operator's already-proven
    // oracle arithmetic: the q187 hex-digest checksum, q191's smoothed
    // PSI totals (decimal-summed), q45's Lehmer split, q189's calendar
    // classes.
    "q200_release_signoff" ->
      """WITH doc AS (SELECT
        |    COUNT(*) AS n_docs, SUM(n_chars) AS tot_chars,
        |    COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dupes,
        |    COUNT(*) - COUNT(DISTINCT doc_id) AS doc_id_dupes,
        |    SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |      AS len_mismatches
        |  FROM documents),
        |ck AS (SELECT SUM(list_reduce(list_transform(
        |      string_split(substr(md5(doc_id || ':' || n_chars), 1, 15), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b)) % 4611686018427387903 AS content_sum
        |  FROM documents),
        |dd AS (SELECT *,
        |    list_reduce(list_transform(
        |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
        |      (a, b) -> a * 16 + b) % 10 >= 7 AS is_cur
        |  FROM documents),
        |fb AS (
        |  SELECT 'source' AS feature, source AS bucket, is_cur FROM dd
        |  UNION ALL SELECT 'lang', lang, is_cur FROM dd
        |  UNION ALL SELECT 'len_bin',
        |    CAST(CAST(LEAST(FLOOR(CAST(n_chars AS DOUBLE) / 500.0), 9.0)
        |      AS BIGINT) AS VARCHAR), is_cur FROM dd),
        |c AS (SELECT feature, bucket,
        |    SUM(CASE WHEN NOT is_cur THEN 1 ELSE 0 END) AS n_ref,
        |    SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
        |  FROM fb GROUP BY 1, 2),
        |tt AS (SELECT feature, SUM(n_ref) AS tot_ref, SUM(n_cur) AS tot_cur,
        |    COUNT(*) AS nb FROM c GROUP BY 1),
        |ps AS (SELECT c.feature,
        |    (craw - praw) * ln(craw / praw) AS term FROM (
        |    SELECT c.feature,
        |      (CAST(n_ref AS DOUBLE) + 0.5)
        |        / (CAST(tot_ref AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS praw,
        |      (CAST(n_cur AS DOUBLE) + 0.5)
        |        / (CAST(tot_cur AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS craw
        |    FROM c JOIN tt USING (feature)) c),
        |drift AS (SELECT 'drift' AS section, 'psi_' || feature AS metric,
        |    CAST(CAST(SUM(CAST(ROUND(term, 6) AS DECIMAL(20,6))) AS DOUBLE)
        |      AS DOUBLE) AS value
        |  FROM ps GROUP BY feature),
        |sp AS (SELECT 'split' AS section,
        |    CASE WHEN (doc_id * 48271) % 2147483647 % 100 < 90
        |      THEN 'train_docs' ELSE 'valid_docs' END AS metric,
        |    CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM documents GROUP BY 2),
        |rt AS (SELECT 'retention' AS section,
        |    'n_' || (CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15' THEN 'live'
        |      WHEN user_id % 29 = 3 THEN 'held' ELSE 'expired' END) AS metric,
        |    CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY 2)
        |SELECT section, metric, value FROM (
        |  SELECT 'corpus' AS section, 'n_docs' AS metric,
        |    CAST(n_docs AS DOUBLE) AS value FROM doc
        |  UNION ALL SELECT 'corpus', 'tot_chars', CAST(tot_chars AS DOUBLE) FROM doc
        |  UNION ALL SELECT 'dedup', 'n_exact_dupes',
        |    CAST(n_exact_dupes AS DOUBLE) FROM doc
        |  UNION ALL SELECT 'integrity', 'doc_id_dupes',
        |    CAST(doc_id_dupes AS DOUBLE) FROM doc
        |  UNION ALL SELECT 'integrity', 'len_mismatches',
        |    CAST(len_mismatches AS DOUBLE) FROM doc
        |  UNION ALL SELECT 'checksum', 'content_sum',
        |    CAST(content_sum AS DOUBLE) FROM ck
        |  UNION ALL SELECT * FROM drift
        |  UNION ALL SELECT * FROM sp
        |  UNION ALL SELECT * FROM rt)
        |ORDER BY section, metric""".stripMargin,
    // q201 — the bloom filter only PRUNES (false positives fall to the
    // join), so the oracle is the plain selective join+aggregate.
    "q201_bloom_join" ->
      """SELECT l.l_returnflag,
        |  COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(12,4))), 2)
        |    AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |  AND year(CAST(o.o_orderdate AS DATE)) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q202 — synchronous min-tie-break label propagation replayed as 5
    // chained CTEs over the q129 edge set; the arg-max is the same
    // integer cnt·B + (B−1−label) encoding, so every round is exact.
    "q202_label_prop" -> lpaOracleSql,
    // q203 — the sorted-group fold is ORDER BY inside string_agg; the
    // (ts, event_id) key is total (event_id unique), so both engines
    // build the identical path string.
    "q203_secondary_sort" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q204 — greedy k-center replayed as 7 chained argmax CTEs; the
    // distance fold is list_reduce (strict left fold), bit-equal to the
    // engine's aggregate() fold, so every pick matches exactly.
    "q204_kcenter_coreset" -> kcenterOracleSql,
    // q205 — the two writer generations are a YEAR split of orders, so
    // the merged-schema read replays as a CASE on the same split.
    "q205_schema_evolution" ->
      """SELECT CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
        |    THEN o_orderpriority ELSE '(pre-upgrade)' END AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // q206 — the decay weight is 1/2^weeks (exact in double, no libm),
    // terms rounded to 6 dp and DECIMAL-summed: order-independent and
    // bit-equal across engines.
    "q206_decayed_ranking" ->
      """WITH r AS (SELECT MAX(ts) AS m FROM events),
        |t AS (SELECT event_type, value,
        |    LEAST(date_diff('microsecond', ts, m) // 604800000000, 60) AS wk
        |  FROM events CROSS JOIN r)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS raw_total,
        |  CAST(ROUND(SUM(CAST(ROUND(
        |      value / CAST((CAST(1 AS BIGINT) << wk) AS DOUBLE), 6)
        |    AS DECIMAL(20,6))), 4) AS DOUBLE) AS decayed_total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // q207 — the cogroup fold accumulates longs only, so the unordered
    // group replays as a plain grouped aggregate + full outer join.
    "q207_cogroup_reconcile" ->
      """WITH la AS (SELECT l_orderkey, COUNT(*) AS n,
        |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty,
        |    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT COALESCE(o.o_orderkey, la.l_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'orphan_lines'
        |       WHEN la.l_orderkey IS NULL THEN 'no_lines'
        |       ELSE 'matched' END AS status,
        |  CAST(COALESCE(la.n, 0) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(la.qty, 0) AS BIGINT) AS sum_qty,
        |  CAST(COALESCE(la.c, 0) AS BIGINT) AS cents
        |FROM orders o FULL JOIN la ON o.o_orderkey = la.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    // q208 — Hamilton apportionment + within-stratum md5 rank, all
    // integer arithmetic; the oracle's per-stratum window IS the
    // engine's two-pass rank (same total order).
    "q208_quota_sample" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS n_total,
        |    (SUM(n_docs) * 10) // 100 AS target FROM s),
        |a AS (SELECT source, n_docs, target,
        |    (target * n_docs) // n_total AS base,
        |    (target * n_docs) % n_total AS rem
        |  FROM s CROSS JOIN t),
        |r AS (SELECT source, n_docs, base,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS seat,
        |    target - SUM(base) OVER () AS extra
        |  FROM a),
        |q AS (SELECT source, n_docs,
        |    base + CASE WHEN seat <= extra THEN 1 ELSE 0 END AS quota
        |  FROM r),
        |d AS (SELECT source, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk
        |  FROM documents),
        |sel AS (SELECT d.source, d.h
        |  FROM d JOIN q USING (source) WHERE rk < quota),
        |rc AS (SELECT source, COUNT(*) AS n_sampled, MAX(h) AS last_hash
        |  FROM sel GROUP BY 1)
        |SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  CAST(COALESCE(rc.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  rc.last_hash
        |FROM q LEFT JOIN rc USING (source) ORDER BY q.source""".stripMargin,
    // q209 — the deletion-neighborhood blocking is lossless at k=2
    // (FastSS theorem, spec-proven vs brute force), so the oracle runs
    // the same blocking + exact levenshtein verify.
    "q209_editdist_dedup" ->
      """WITH v AS (SELECT p_name AS w, COUNT(*) AS n_rows
        |  FROM part GROUP BY 1),
        |k AS (SELECT w, n_rows, unnest(list_distinct(list_concat(
        |    list_concat([w],
        |      list_transform(range(0, length(w)),
        |        i -> w[1:i] || w[i+2:])),
        |    flatten(list_transform(
        |      list_transform(range(0, length(w)), i -> w[1:i] || w[i+2:]),
        |      d -> list_transform(range(0, length(d)),
        |        i -> d[1:i] || d[i+2:])))))) AS dkey
        |  FROM v),
        |cand AS (SELECT DISTINCT a.w AS name1, b.w AS name2,
        |    a.n_rows AS n1, b.n_rows AS n2
        |  FROM k a JOIN k b ON a.dkey = b.dkey AND a.w < b.w)
        |SELECT name1, name2,
        |  CAST(levenshtein(name1, name2) AS INTEGER) AS dist,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
        |FROM cand WHERE levenshtein(name1, name2) <= 2
        |ORDER BY name1, name2""".stripMargin,
    // q210 — exact long counts; the PMI argument is assembled in the
    // pinned (c12·N)/(c1·c2) order so ln() sees identical doubles.
    "q210_pmi_collocations" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk FROM documents),
        |bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM (
        |  SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
        |      unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS w2
        |  FROM tk WHERE len(tk) >= 2) GROUP BY 1, 2),
        |lc AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1),
        |rc AS (SELECT w2, SUM(c12) AS c2 FROM bg GROUP BY 1),
        |n AS (SELECT SUM(c12) AS nb FROM bg)
        |SELECT bg.w1, bg.w2, CAST(bg.c12 AS BIGINT) AS c12,
        |  ROUND(ln((CAST(bg.c12 AS DOUBLE) * CAST(nb AS DOUBLE))
        |          / (CAST(lc.c1 AS DOUBLE) * CAST(rc.c2 AS DOUBLE))), 6)
        |    AS pmi
        |FROM bg JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN n
        |WHERE bg.c12 >= 5
        |ORDER BY bg.c12 DESC, bg.w1, bg.w2 LIMIT 30""".stripMargin,
    // q211 — DuckDB runs the IDENTICAL lateral form (both engines
    // decorrelate it; result order is pinned by the outer ORDER BY).
    "q211_lateral_topn" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
        |  t.l_quantity, t.l_extendedprice
        |FROM orders o JOIN LATERAL (
        |  SELECT l_quantity, l_extendedprice FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_quantity LIMIT 2) t ON true
        |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_quantity"""
        .stripMargin,
    // q212 — quantile_cont interpolates with the same
    // lower + frac·(upper−lower) arithmetic as Spark's percentile, so
    // med/MAD and the fence comparisons agree bit-for-bit.
    "q212_robust_outliers" ->
      """WITH med AS (SELECT event_type,
        |    quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n_events,
        |  ROUND(MIN(d.med), 4) AS median, ROUND(MIN(m.mad), 4) AS mad,
        |  CAST(SUM(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q213 — per-dim DECIMAL-sum means (order-free), then the pinned
    // left-fold dot/norms over dim-ordered lists: identical doubles on
    // both engines, one rounded cosine per label.
    "q213_embedding_drift" ->
      """WITH e AS (SELECT vec_id, label, (vec_id % 10 < 7) AS is_base,
        |    embedding FROM embeddings),
        |d AS (SELECT label, is_base, t.i,
        |    CAST(embedding[t.i + 1] AS DOUBLE) AS v
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t),
        |m AS (SELECT label, i,
        |    CAST(SUM(CAST(CASE WHEN is_base THEN v ELSE 0.0 END
        |      AS DECIMAL(28,14))) AS DOUBLE)
        |      / SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS mb,
        |    CAST(SUM(CAST(CASE WHEN NOT is_base THEN v ELSE 0.0 END
        |      AS DECIMAL(28,14))) AS DOUBLE)
        |      / SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS mc
        |  FROM d GROUP BY 1, 2),
        |a AS (SELECT label, list(mb ORDER BY i) AS mbs,
        |    list(mc ORDER BY i) AS mcs FROM m GROUP BY 1),
        |c AS (SELECT label,
        |    ROUND(
        |      list_reduce(list_transform(range(1, 65),
        |        j -> mbs[j] * mcs[j]), (acc, x) -> acc + x)
        |      / (sqrt(list_reduce(list_transform(range(1, 65),
        |           j -> mbs[j] * mbs[j]), (acc, x) -> acc + x))
        |         * sqrt(list_reduce(list_transform(range(1, 65),
        |             j -> mcs[j] * mcs[j]), (acc, x) -> acc + x))), 6)
        |      AS centroid_cosine
        |  FROM a),
        |n AS (SELECT label,
        |    SUM(CASE WHEN vec_id % 10 < 7 THEN 1 ELSE 0 END) AS n_base,
        |    SUM(CASE WHEN vec_id % 10 >= 7 THEN 1 ELSE 0 END) AS n_batch
        |  FROM embeddings GROUP BY 1)
        |SELECT c.label, CAST(n.n_base AS BIGINT) AS n_base,
        |  CAST(n.n_batch AS BIGINT) AS n_batch, c.centroid_cosine
        |FROM c JOIN n USING (label) ORDER BY label""".stripMargin,
    // q214 — integer epoch-hour grain, DECIMAL hour totals, the
    // identical RANGE frame; both engines bound it by hour VALUE.
    "q214_range_frame" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hourn,
        |    COUNT(*) AS n_events,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS tot
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hourn, n_events,
        |  CAST(ROUND(tot, 2) AS DOUBLE) AS hour_total,
        |  CAST(ROUND(SUM(tot) OVER (PARTITION BY event_type ORDER BY hourn
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS moving3
        |FROM hourly ORDER BY event_type, hourn""".stripMargin,
    // q215 — the identical day − rank islands construction; all
    // integer arithmetic.
    "q215_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS dayn FROM events),
        |g AS (SELECT user_id, dayn,
        |    dayn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dayn)
        |      AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  COUNT(*) AS n_streaks, CAST(SUM(len) AS BIGINT) AS active_days
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // q216 — exact long counts into pinned-order double divisions,
    // rounded to 6 dp (the q210 discipline).
    "q216_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM it),
        |s AS (SELECT event_type, COUNT(*) AS n FROM it GROUP BY 1),
        |p AS (SELECT a.event_type AS x, b.event_type AS y,
        |    COUNT(*) AS n_xy
        |  FROM it a JOIN it b ON a.user_id = b.user_id
        |    AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.x, p.y, CAST(p.n_xy AS BIGINT) AS n_xy,
        |  ROUND(CAST(p.n_xy AS DOUBLE) / n_users, 6) AS support,
        |  ROUND(CAST(p.n_xy AS DOUBLE) / sx.n, 6) AS confidence,
        |  ROUND((CAST(p.n_xy AS DOUBLE) * CAST(n_users AS DOUBLE))
        |    / (CAST(sx.n AS DOUBLE) * CAST(sy.n AS DOUBLE)), 6) AS lift
        |FROM p JOIN s sx ON sx.event_type = p.x
        |  JOIN s sy ON sy.event_type = p.y CROSS JOIN nu
        |ORDER BY p.x, p.y""".stripMargin,
    // q218 — two-stage incremental LPA replayed from scratch (the q160
    // convention; Δ-graph equality is spec-proven).
    "q218_incremental_lpa" -> incrLpaOracleSql,
    // q219 — PNG is lossless and the container parse strict, so every
    // sampled frame's channel sums replay from the pixel formula with
    // no codec (the q85 discipline at the video tier).
    "q219_video_keyframes" ->
      """SELECT doc_id AS media_id, CAST(6 AS INTEGER) AS n_frames,
        |  CAST(f AS INTEGER) AS frame_idx,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  CAST(SUM(((doc_id * 101 + f) * 31 + x * 17 + y * 7) % 256)
        |    AS BIGINT) AS r_sum,
        |  CAST(SUM(((doc_id * 101 + f) * 13 + x * 5 + y * 11) % 256)
        |    AS BIGINT) AS g_sum,
        |  CAST(SUM(((doc_id * 101 + f) * 29 + x * 3 + y * 19) % 256)
        |    AS BIGINT) AS b_sum
        |FROM documents, (SELECT unnest([0, 2, 4]) AS f) fr,
        |  range(16) t1(x), range(16) t2(y)
        |WHERE doc_id < 60
        |GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin,
    // q217 — all integer; cumulative distinct via running sum of
    // first-day counts (the same identity on both engines).
    "q217_growth_accounting" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS dayn FROM events),
        |a AS (SELECT dayn, COUNT(*) AS n_active FROM d GROUP BY 1),
        |f AS (SELECT dayn, COUNT(*) AS n_new FROM (
        |  SELECT user_id, MIN(dayn) AS dayn FROM d GROUP BY 1)
        |  GROUP BY 1)
        |SELECT a.dayn, a.n_active,
        |  CAST(COALESCE(f.n_new, 0) AS BIGINT) AS n_new,
        |  CAST(a.n_active - COALESCE(f.n_new, 0) AS BIGINT) AS n_returning,
        |  CAST(SUM(COALESCE(f.n_new, 0)) OVER (ORDER BY a.dayn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM a LEFT JOIN f USING (dayn) ORDER BY a.dayn""".stripMargin,
    // q220 — q90's replay with the erased slice (base ids ≡ 0 mod 10)
    // removed from the store's post-erasure probe face; `resurrected`
    // marks rows suppressed only by forgotten content. The engine's
    // doc-keyed delete of the standing ledger equals this from-scratch
    // build by EraseStateSpec.
    "q220_erase_fp_store" -> eraseFpStoreOracleSql,
    // q221 — q106's exact cross-split Jaccard replay, with the corpus
    // face split pre/post erasure (corpus ids ≡ 0 mod 10 removed);
    // `freed` marks batch docs whose every verified corpus near-match
    // was erased.
    "q221_erase_neardup_index" -> eraseBandIndexOracleSql,
    // q223 — the erase-then-ingest LPA procedure replayed from scratch
    // (the q218 convention; the erased Δ-graph equality is spec-proven
    // in EraseStateSpec).
    "q223_erase_lpa" -> eraseLpaOracleSql,
    // q224 — the q189 retention kernel per day-file; live fraction and
    // the rewrite/keep decision are closed-form; the live value total is
    // a decimal ledger.
    "q224_deletion_vectors" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS file_day, value,
        |    (CAST(ts AS DATE) < DATE '2024-01-15' AND user_id % 29 <> 3)
        |      AS del
        |  FROM events)
        |SELECT file_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted,
        |  ROUND(CAST(COUNT(*) - SUM(CASE WHEN del THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 4) AS live_pct,
        |  CASE WHEN CAST(COUNT(*) - SUM(CASE WHEN del THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*) < 0.5
        |    THEN 'rewrite' ELSE 'keep' END AS action,
        |  CAST(ROUND(SUM(CASE WHEN NOT del
        |      THEN CAST(value AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |    AS live_value
        |FROM e GROUP BY file_day ORDER BY file_day""".stripMargin,
    // q225 — every metric is an integer count: the fp/band/graph kinds
    // replay from the corpus; the IVF-PQ rows are m codes per indexed
    // (nonzero-norm) vector regardless of learned code values; residuals
    // are the invariant (zero) the engine-side checks must land on.
    "q225_erasure_certificate" -> erasureCertificateOracleSql,
    // q248 — erase a CUSTOMER from the CF standing state (counts
    // decrement; pairs at 0 disappear; resurrection via the next
    // ingest), oracled by the monolithic from-scratch form.
    "q248_erase_cf_state" -> eraseCfOracleSql,
    // q250 — the versioned ingest chain, oracled monolithically: the
    // two-stage CHAIN-ORDERED admission (batch A fills room against the
    // old base's baskets, batch B against the merged v2 baskets) is
    // replayed as chained CTEs; the ledger is batch B's touched pairs.
    "q250_durable_chain" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 < 5),
        |cb AS (SELECT c, p FROM (SELECT c, p,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM e0)
        |  WHERE rn <= 256),
        |s0 AS (SELECT c, COUNT(*) AS nb FROM cb GROUP BY c),
        |ea AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 5 AND o.o_orderkey % 10 < 7),
        |na0 AS (SELECT c, p FROM ea EXCEPT SELECT c, p FROM cb),
        |na AS (SELECT c, p FROM (SELECT na0.c, na0.p,
        |    ROW_NUMBER() OVER (PARTITION BY na0.c ORDER BY na0.p) AS rn,
        |    COALESCE(s0.nb, 0) AS nb
        |  FROM na0 LEFT JOIN s0 ON s0.c = na0.c)
        |  WHERE rn <= 256 - nb),
        |s1 AS (SELECT c, p FROM cb UNION ALL SELECT c, p FROM na),
        |sz1 AS (SELECT c, COUNT(*) AS nb FROM s1 GROUP BY c),
        |egb AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 7),
        |nb0 AS (SELECT c, p FROM egb EXCEPT SELECT c, p FROM s1),
        |nv AS (SELECT c, p FROM (SELECT nb0.c, nb0.p,
        |    ROW_NUMBER() OVER (PARTITION BY nb0.c ORDER BY nb0.p) AS rn,
        |    COALESCE(sz1.nb, 0) AS nb
        |  FROM nb0 LEFT JOIN sz1 ON sz1.c = nb0.c)
        |  WHERE rn <= 256 - nb),
        |adm AS (SELECT c, p FROM s1 UNION ALL SELECT c, p FROM nv),
        |pf AS (SELECT a.c, a.p AS p1, b.p AS p2
        |  FROM adm a JOIN adm b ON a.c = b.c AND a.p < b.p),
        |tc AS (SELECT p1, p2, COUNT(*) AS co_full,
        |    SUM(CASE WHEN n1.p IS NOT NULL OR n2.p IS NOT NULL
        |      THEN 1 ELSE 0 END) AS delta
        |  FROM pf
        |  LEFT JOIN nv n1 ON n1.c = pf.c AND n1.p = pf.p1
        |  LEFT JOIN nv n2 ON n2.c = pf.c AND n2.p = pf.p2
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(delta AS BIGINT) AS delta_co,
        |  CAST(co_full AS BIGINT) AS co_after
        |FROM tc WHERE delta > 0 ORDER BY p1, p2""".stripMargin,
    // q226 — pure integer HITS recurrence (exact edge sums + integer
    // renormalization): DuckDB replays all rounds as chained CTEs.
    "q226_hits" -> hitsOracleSql,
    // q227 — total min-plus recurrence over the q129 edge CTEs with a
    // sentinel (999) instead of NULL distance, so both engines run the
    // identical integer arithmetic.
    "q227_seed_distance" -> seedDistanceOracleSql,
    // q228 — exact HUGEINT/DECIMAL sufficient statistics, one cast to
    // double, sqrt/divide in the same operation order.
    "q228_feature_corr" ->
      """WITH f AS (SELECT doc_id, n_chars AS chars,
        |    len(w) AS toks, len(list_distinct(w)) AS vocab,
        |    COALESCE(list_max(list_transform(w, x -> len(x))), 0) AS wmax
        |  FROM (SELECT doc_id, n_chars,
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> '') AS w
        |    FROM documents)),
        |u AS (SELECT doc_id, 'chars' AS feat, chars AS v FROM f
        |  UNION ALL SELECT doc_id, 'toks', toks FROM f
        |  UNION ALL SELECT doc_id, 'vocab', vocab FROM f
        |  UNION ALL SELECT doc_id, 'wmax', wmax FROM f),
        |ag AS (SELECT a.feat AS feat_x, b.feat AS feat_y, COUNT(*) AS n,
        |    SUM(a.v::HUGEINT) AS sx, SUM(b.v::HUGEINT) AS sy,
        |    SUM(a.v::HUGEINT * b.v) AS sxy,
        |    SUM(a.v::HUGEINT * a.v) AS sxx,
        |    SUM(b.v::HUGEINT * b.v) AS syy
        |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND a.feat < b.feat
        |  GROUP BY 1, 2)
        |SELECT feat_x, feat_y, CAST(n AS BIGINT) AS n_docs,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) + 0.0
        |  END AS r
        |FROM ag ORDER BY feat_x, feat_y""".stripMargin,
    // q229 — shares are one double division of exact integers; Σp² and
    // Σ−p·ln p terms in an 18dp-DECIMAL(28,18) lane (p² underflows 8dp
    // at ≳10⁴ sources); bits via a shared ln(2) literal so neither
    // engine's own log2 is trusted; p = 0 entropy terms gated to NULL
    // on both sides (ln(0) aborts DuckDB, returns NULL in Spark).
    "q229_mix_diversity" ->
      """WITH ps AS (SELECT source,
        |    SUM(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                        x -> x <> ''))) AS tok
        |  FROM documents GROUP BY source),
        |tt AS (SELECT SUM(tok) AS t, COUNT(*) AS ns FROM ps),
        |p AS (SELECT ns, t,
        |    CAST(tok AS DOUBLE) / CAST(t AS DOUBLE) AS p FROM ps, tt),
        |ag AS (SELECT MAX(ns) AS n_sources, MAX(t) AS total_tokens,
        |    ROUND(MAX(p), 6) AS top_share,
        |    SUM(CAST(ROUND(p * p, 18) AS DECIMAL(28,18))) AS hhi8,
        |    SUM(CAST(ROUND(CASE WHEN p > 0 THEN -(p * ln(p)) END, 18)
        |      AS DECIMAL(28,18))) AS ent8
        |  FROM p)
        |SELECT CAST(n_sources AS BIGINT) AS n_sources,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  top_share,
        |  ROUND(CAST(hhi8 AS DOUBLE), 6) AS hhi,
        |  ROUND(1.0 / CAST(hhi8 AS DOUBLE), 6) AS effective_sources,
        |  ROUND(CAST(ent8 AS DOUBLE) / 0.6931471805599453, 6)
        |    AS entropy_bits
        |FROM ag""".stripMargin,
    // q230 — the RR coin is the portable splitmix64 kernel over
    // 'rr|'||doc_id, replayed losslessly in HUGEINT (the winnowFpSql
    // treatment); the debias closed form is exact integer arithmetic
    // until one /2.0.
    "q230_rr_private_hist" -> rrPrivateHistOracleSql,
    // q231 — pure relational ladder; NULLS FIRST pinned to match
    // Spark's ascending null ordering.
    "q231_k_anonymity" ->
      """WITH qi AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS bal_bucket
        |  FROM customer),
        |g0 AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
        |    COUNT(*) AS n_rows
        |  FROM qi GROUP BY 1, 2, 3),
        |keep0 AS (SELECT 0 AS level, c_nationkey, c_mktsegment,
        |    bal_bucket, n_rows FROM g0 WHERE n_rows >= 5),
        |esc AS (SELECT qi.* FROM qi
        |  JOIN g0 ON g0.c_nationkey = qi.c_nationkey
        |    AND g0.c_mktsegment = qi.c_mktsegment
        |    AND g0.bal_bucket = qi.bal_bucket
        |  WHERE g0.n_rows < 5),
        |g1 AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows
        |  FROM esc GROUP BY 1, 2),
        |keep1 AS (SELECT 1 AS level, c_nationkey, c_mktsegment,
        |    CAST(NULL AS INTEGER) AS bal_bucket, n_rows
        |  FROM g1 WHERE n_rows >= 5),
        |supp AS (SELECT 2 AS level, CAST(NULL AS INTEGER) AS c_nationkey,
        |    CAST(NULL AS VARCHAR) AS c_mktsegment,
        |    CAST(NULL AS INTEGER) AS bal_bucket, SUM(n_rows) AS n_rows
        |  FROM g1 WHERE n_rows < 5 HAVING SUM(n_rows) > 0)
        |SELECT CAST(level AS INTEGER) AS level, c_nationkey, c_mktsegment,
        |  bal_bucket, CAST(n_rows AS BIGINT) AS n_rows
        |FROM (SELECT * FROM keep0 UNION ALL SELECT * FROM keep1
        |      UNION ALL SELECT * FROM supp)
        |ORDER BY level, c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST,
        |  bal_bucket NULLS FIRST""".stripMargin,
    // q232 — the oracle is the INDEPENDENT quadratic NOT-EXISTS
    // dominance definition, cross-checking the engine's linear
    // prefix-max sweep against the textbook semantics.
    "q232_skyline" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |    len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> ''))) AS vocab
        |  FROM documents)
        |SELECT b.doc_id, b.n_chars, b.vocab FROM f b
        |WHERE NOT EXISTS (SELECT 1 FROM f a WHERE
        |  (a.n_chars < b.n_chars AND a.vocab >= b.vocab) OR
        |  (a.n_chars <= b.n_chars AND a.vocab > b.vocab))
        |ORDER BY b.doc_id""".stripMargin,
    // q233 — every Poisson weight replayed via the HUGEINT splitmix
    // chain + the shared CDF literals; CI bounds are order statistics
    // over the 32 resample means.
    "q233_bootstrap_ci" -> bootstrapCiOracleSql,
    // q234 — leading digit from the STRING rendering of integer cents
    // (no log10 edge cases); χ² terms against shared Benford literals.
    "q234_benford_audit" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100.0,
        |      0) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
        |tt AS (SELECT SUM(n_obs) AS t FROM g),
        |es AS (SELECT digit, n_obs, t,
        |    CASE digit WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129
        |      WHEN 9 THEN 0.04575749056067514 END AS exp_share
        |  FROM g, tt)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  ROUND(CAST(n_obs AS DOUBLE) / CAST(t AS DOUBLE), 6) AS obs_share,
        |  exp_share,
        |  ROUND((CAST(n_obs AS DOUBLE) - CAST(t AS DOUBLE) * exp_share)
        |      * (CAST(n_obs AS DOUBLE) - CAST(t AS DOUBLE) * exp_share)
        |      / (CAST(t AS DOUBLE) * exp_share), 6) AS chi2_term
        |FROM es ORDER BY digit""".stripMargin,
    // q235 — integer risk sets; the survival product in the q157
    // 8dp-DECIMAL log lane; depleted risk sets pin S to 0.
    "q235_survival_km" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |fc AS (SELECT user_id, MIN(us) AS c FROM e
        |  WHERE event_type = 'click' GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(e.us) AS p FROM e
        |  JOIN fc ON fc.user_id = e.user_id AND e.us >= fc.c
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |ob AS (SELECT fc.user_id, (fp.p - fc.c) // 3600000000 AS dur
        |  FROM fc LEFT JOIN fp ON fp.user_id = fc.user_id),
        |oc AS (SELECT CASE WHEN dur IS NOT NULL AND dur <= 72 THEN dur
        |    ELSE 72 END AS t_h,
        |    (dur IS NOT NULL AND dur <= 72) AS ev FROM ob),
        |pt AS (SELECT t_h, SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS n_events,
        |    SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS n_censored
        |  FROM oc GROUP BY 1),
        |tt AS (SELECT SUM(n_events + n_censored) AS nc FROM pt),
        |rk AS (SELECT t_h, n_events, n_censored,
        |    nc - COALESCE(SUM(n_events + n_censored) OVER
        |      (ORDER BY t_h ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND 1 PRECEDING), 0) AS n_risk
        |  FROM pt, tt),
        |tm AS (SELECT t_h, n_risk, n_events, n_censored,
        |    n_events = n_risk AS depleted,
        |    CASE WHEN n_events > 0 AND n_events <> n_risk
        |      THEN CAST(ROUND(ln(CAST(n_risk - n_events AS DOUBLE)
        |          / CAST(n_risk AS DOUBLE)), 8) AS DECIMAL(18,8))
        |      ELSE CAST(0 AS DECIMAL(18,8)) END AS term
        |  FROM rk)
        |SELECT t_h, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CASE WHEN SUM(CASE WHEN depleted THEN 1 ELSE 0 END) OVER w > 0
        |    THEN 0.0
        |    ELSE ROUND(exp(CAST(SUM(term) OVER w AS DOUBLE)), 6)
        |  END AS survival
        |FROM tm WINDOW w AS (ORDER BY t_h ROWS BETWEEN UNBOUNDED
        |  PRECEDING AND CURRENT ROW)
        |ORDER BY t_h""".stripMargin,
    // q236 — the arm coin is the splitmix64 kernel over 'ab|'||user_id;
    // rates, pooled p, and z divide exact integers in one pinned order.
    "q236_ab_test" -> abTestOracleSql,
    // q237 — integer day split from the 1-row min timestamp; HUGEINT
    // sufficient statistics; θ/variances/reduction in the engine's
    // pinned operation order.
    "q237_cuped" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |t0 AS (SELECT MIN(us) AS t0 FROM e),
        |xy AS (SELECT user_id,
        |    SUM(CASE WHEN (us - t0) // 86400000000 < 14
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
        |    SUM(CASE WHEN (us - t0) // 86400000000 >= 14
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM e, t0 GROUP BY user_id),
        |s AS (SELECT COUNT(*) AS n,
        |    SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
        |    SUM(x::HUGEINT * y) AS sxy, SUM(x::HUGEINT * x) AS sxx,
        |    SUM(y::HUGEINT * y) AS syy
        |  FROM xy),
        |v AS (SELECT n,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cov,
        |    CAST(n * sxx - sx * sx AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS varx,
        |    CAST(n * syy - sy * sy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vary
        |  FROM s)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  CASE WHEN varx > 0.0 THEN ROUND(cov / varx, 6) END AS theta,
        |  ROUND(vary, 6) AS var_y,
        |  CASE WHEN varx > 0.0
        |    THEN ROUND(vary - cov * cov / varx, 6) END AS var_adj,
        |  CASE WHEN varx > 0.0 AND vary > 0.0
        |    THEN ROUND(cov * cov / (varx * vary), 6) END AS var_reduction
        |FROM v""".stripMargin,
    // q238 — midranks from per-value aggregates (2·R_A kept integer),
    // the splitmix64 arm coin, tie-corrected σ², pinned operation order.
    "q238_mann_whitney" -> mannWhitneyOracleSql,
    // q239/q240 — the q126 score kernel joined to the q147 per-doc rule
    // gate; fixed 50-unit bins clamped non-negative BEFORE division
    // (Spark DIV truncates, DuckDB // floors — equal on non-negatives);
    // AUC by the rank-sum identity over the bounded bin table.
    "q239_classifier_auc" ->
      (classifierScoreSql + "," +
        scoreVsGateSql +
        """,
        |pb AS (SELECT bin,
        |    SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS p,
        |    COUNT(*) AS t
        |  FROM sg GROUP BY bin),
        |cc AS (SELECT bin, p, t,
        |    COALESCE(SUM(t) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM pb),
        |ag AS (SELECT SUM(p::HUGEINT) AS np, SUM((t - p)::HUGEINT) AS nn,
        |    COUNT(*) AS n_bins,
        |    SUM((p * (2*c + t + 1))::HUGEINT) AS rp2
        |  FROM cc)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  CAST(n_bins AS BIGINT) AS n_bins,
        |  CASE WHEN np > 0 AND nn > 0 THEN
        |    ROUND((CAST(rp2 AS DOUBLE) - CAST(np AS DOUBLE)
        |        * (CAST(np AS DOUBLE) + 1.0))
        |      / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
        |  END AS auc
        |FROM ag""").stripMargin,
    "q240_reliability" ->
      (classifierScoreSql + "," +
        scoreVsGateSql +
        """
        |SELECT CAST(bin * 50 - 20000 AS BIGINT) AS bin_lo,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  ROUND(CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate,
        |  ROUND(CAST(SUM(score_sum) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_score
        |FROM sg GROUP BY bin ORDER BY bin_lo""").stripMargin,
    // q241 — exact integer co-occurrence counts, one cosine division,
    // the same deterministic cap and tie-break; the cap does not bind
    // on the fixtures (spec-asserted), so the oracle is exact.
    "q241_item_cf" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |cp AS (SELECT c, p FROM (SELECT c, p,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM e)
        |  WHERE rn <= 256),
        |n AS (SELECT p, COUNT(*) AS n FROM cp GROUP BY p),
        |co AS (SELECT a.p AS p1, b.p AS p2, COUNT(*) AS co
        |  FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p GROUP BY 1, 2),
        |sym AS (SELECT p1 AS part, p2 AS other, co FROM co
        |  UNION ALL SELECT p2, p1, co FROM co),
        |sc AS (SELECT s.part, s.other, s.co,
        |    ROUND(CAST(s.co AS DOUBLE)
        |      / sqrt(CAST(n1.n AS DOUBLE) * CAST(n2.n AS DOUBLE)), 6)
        |      AS cosine
        |  FROM sym s JOIN n n1 ON n1.p = s.part
        |  JOIN n n2 ON n2.p = s.other),
        |rk AS (SELECT part, other, co, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY part
        |      ORDER BY cosine DESC, co DESC, other) AS rank
        |  FROM sc)
        |SELECT part, CAST(rank AS INTEGER) AS rank, other,
        |  CAST(co AS BIGINT) AS co, cosine
        |FROM rk WHERE rank <= 3 ORDER BY part, rank""".stripMargin,
    // q242 — integer (day, hour) cells over the zero-filled continuous
    // grid; three exact-integer means; expected/residual combined in
    // the engine's operation order; weekday via (day + 4) mod 7.
    "q242_seasonal_decomp" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour FROM events),
        |c AS (SELECT day, hour, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |sp AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |gd AS (SELECT unnest(generate_series(d0, d1)) AS day FROM sp),
        |gh AS (SELECT unnest(generate_series(0, 23)) AS hour),
        |grid AS (SELECT gd.day, gh.hour,
        |    COALESCE(c.n, 0) AS n, (gd.day + 4) % 7 AS dow
        |  FROM gd CROSS JOIN gh
        |  LEFT JOIN c ON c.day = gd.day AND c.hour = gh.hour),
        |hm AS (SELECT hour,
        |    CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hm
        |  FROM grid GROUP BY hour),
        |wm AS (SELECT dow,
        |    CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS wm
        |  FROM grid GROUP BY dow),
        |g AS (SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS g FROM grid)
        |SELECT grid.day, grid.hour, CAST(grid.n AS BIGINT) AS n_events,
        |  ROUND(hm.hm + wm.wm - g.g, 6) AS expected,
        |  ROUND(CAST(grid.n AS DOUBLE) - (hm.hm + wm.wm - g.g), 6)
        |    AS residual
        |FROM grid JOIN hm ON hm.hour = grid.hour
        |JOIN wm ON wm.dow = grid.dow, g
        |ORDER BY grid.day, grid.hour""".stripMargin,
    // q243 — the q66 cluster relation (exact-jaccard edges + recursive
    // reachability — banding is lossless at τ=0.7, so the oracle's
    // all-pairs clusters ARE the engine's), then the contagion max and
    // the same CASE license map.
    "q243_license_contagion" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
        |    FROM tk WHERE len(tk) >= 3)),
        |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        |ipair AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM ipair
        |  JOIN ssz s1 ON s1.doc_id = ipair.d1
        |  JOIN ssz s2 ON s2.doc_id = ipair.d2
        |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
        |ed AS (SELECT d1 AS src, d2 AS dst FROM nd
        |  UNION ALL SELECT d2, d1 FROM nd),
        |r AS (
        |  SELECT src AS id, src AS comp FROM ed
        |  UNION
        |  SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
        |d AS (SELECT doc_id, source,
        |    ((CAST(substr(source, 4) AS INTEGER) % 4) + 4) % 4 AS rank
        |  FROM documents),
        |dl AS (SELECT d.doc_id, d.source, d.rank,
        |    COALESCE(lab.comp, d.doc_id) AS comp
        |  FROM d LEFT JOIN lab ON lab.id = d.doc_id),
        |ef AS (SELECT comp, MAX(rank) AS er FROM dl GROUP BY comp)
        |SELECT dl.doc_id, dl.source,
        |  CASE dl.rank WHEN 0 THEN 'cc0' WHEN 1 THEN 'cc-by'
        |    WHEN 2 THEN 'cc-by-nc' ELSE 'proprietary' END AS own_license,
        |  CASE ef.er WHEN 0 THEN 'cc0' WHEN 1 THEN 'cc-by'
        |    WHEN 2 THEN 'cc-by-nc' ELSE 'proprietary' END
        |    AS effective_license,
        |  dl.rank < ef.er AS escalated
        |FROM dl JOIN ef USING (comp) ORDER BY dl.doc_id""".stripMargin,
    // q244 — the INDEPENDENT monolithic form over the ADMITTED edge set
    // (capped base baskets + room-capped novel admission, the engine's
    // declared estimator — slack on the fixture, spec-asserted): full
    // pair counts with the delta identified as incidences touching an
    // admitted-novel edge; equals the engine's base+delta merge by the
    // split identity.
    "q244_incr_item_cf" ->
      """WITH eb AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 < 7),
        |cb AS (SELECT c, p FROM (SELECT c, p,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM eb)
        |  WHERE rn <= 256),
        |sz AS (SELECT c, COUNT(*) AS nb FROM cb GROUP BY c),
        |eg AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 7),
        |nv0 AS (SELECT c, p FROM eg EXCEPT SELECT c, p FROM cb),
        |nv AS (SELECT c, p FROM (SELECT nv0.c, nv0.p,
        |    ROW_NUMBER() OVER (PARTITION BY nv0.c ORDER BY nv0.p) AS rn,
        |    COALESCE(sz.nb, 0) AS nb
        |  FROM nv0 LEFT JOIN sz ON sz.c = nv0.c)
        |  WHERE rn <= 256 - nb),
        |adm AS (SELECT c, p FROM cb UNION ALL SELECT c, p FROM nv),
        |pf AS (SELECT a.c, a.p AS p1, b.p AS p2
        |  FROM adm a JOIN adm b ON a.c = b.c AND a.p < b.p),
        |tc AS (SELECT p1, p2, COUNT(*) AS co_full,
        |    SUM(CASE WHEN n1.p IS NOT NULL OR n2.p IS NOT NULL
        |      THEN 1 ELSE 0 END) AS delta
        |  FROM pf
        |  LEFT JOIN nv n1 ON n1.c = pf.c AND n1.p = pf.p1
        |  LEFT JOIN nv n2 ON n2.c = pf.c AND n2.p = pf.p2
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(delta AS BIGINT) AS delta_co,
        |  CAST(co_full AS BIGINT) AS co_after
        |FROM tc WHERE delta > 0 ORDER BY p1, p2""".stripMargin,
    // q245/q246 — shared empirical-CDF machinery: the q191 md5 split
    // replayed in HUGEINT, per-distinct-value cumulatives, exact
    // integer divisions in pinned order; W1 terms in the 8dp-DECIMAL
    // lane, KS gate against the shared 1.36 literal.
    "q245_wasserstein_drift" ->
      (tokenCdfSql +
        """
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  ROUND(CAST(SUM(CAST(ROUND(
        |      abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |          - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |        * CAST(nv - v AS DOUBLE), 8) AS DECIMAL(18,8)))
        |    AS DOUBLE), 6) AS w1
        |FROM cm, tt WHERE nv IS NOT NULL GROUP BY na, nb""").stripMargin,
    "q246_ks_test" ->
      (tokenCdfSql +
        """
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  ROUND(MAX(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 6) AS d_stat,
        |  ROUND(1.36 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6) AS threshold,
        |  MAX(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
        |    > 1.36 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS significant
        |FROM cm, tt GROUP BY na, nb""").stripMargin,
    // q251 — ranked-retrieval eval: BM25 formula replayed per single
    // term, graded-tf relevance, DCG terms in the 8dp-DECIMAL lane with
    // the shared ln(2) literal and a CASE gain (no pow/shift).
    "q251_retrieval_eval" -> retrievalEvalOracleSql,
    // q252 — χ² over the FULL source×lang grid (zero cells contribute
    // their expectation); e = one double division of integer products;
    // per-cell terms 8dp-DECIMAL.
    "q252_chi_square" ->
      """WITH o AS (SELECT source, lang, COUNT(*) AS o FROM documents
        |  GROUP BY 1, 2),
        |rs AS (SELECT source, SUM(o) AS rt FROM o GROUP BY source),
        |cs AS (SELECT lang, SUM(o) AS ct FROM o GROUP BY lang),
        |n AS (SELECT SUM(o) AS n FROM o),
        |grid AS (SELECT rs.source, cs.lang, rs.rt, cs.ct, n.n,
        |    COALESCE(o.o, 0) AS o
        |  FROM rs CROSS JOIN cs
        |  LEFT JOIN o ON o.source = rs.source AND o.lang = cs.lang, n)
        |SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST((COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1)
        |    AS BIGINT) AS dof,
        |  ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 8)
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS chi2
        |FROM grid""".stripMargin,
    // q253 — Gini over per-doc token counts: unique total order
    // (tok, doc_id), HUGEINT sufficient statistics, the same two double
    // divisions in pinned order.
    "q253_gini_tokens" ->
      """WITH x AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                    w -> w <> '')) AS tok
        |  FROM documents),
        |r AS (SELECT tok,
        |    ROW_NUMBER() OVER (ORDER BY tok, doc_id) AS rnk FROM x),
        |s AS (SELECT COUNT(*) AS n, SUM(CAST(tok AS HUGEINT)) AS s0,
        |    SUM(CAST(rnk AS HUGEINT) * CAST(tok AS HUGEINT)) AS s1
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(s0 AS BIGINT)
        |    AS total_tokens,
        |  ROUND(2.0 * CAST(s1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
        |FROM s""".stripMargin,
    // q254 — two-sided CUSUM via the prefix identity
    // S_i = P_i − min(0, min_{j≤i} P_j): two windows over the bounded
    // zero-filled day spine, exact integer arithmetic end to end.
    "q254_cusum_drift" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT day, COUNT(*) AS n FROM d GROUP BY day),
        |sp AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
        |grid AS (SELECT g.day, COALESCE(c.n, 0) AS n
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM sp) g
        |  LEFT JOIN c USING (day)),
        |tt AS (SELECT SUM(n) AS t, COUNT(*) AS nd FROM grid),
        |g2 AS (SELECT day, n, t // nd AS mean,
        |    GREATEST(1, (t // nd) // 20) AS k FROM grid, tt),
        |p AS (SELECT day, n, k,
        |    SUM(n - mean - k) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_hi,
        |    SUM(mean - k - n) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_lo
        |  FROM g2),
        |s AS (SELECT day, n, k,
        |    p_hi - LEAST(0, MIN(p_hi) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS cusum_hi,
        |    p_lo - LEAST(0, MIN(p_lo) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS cusum_lo
        |  FROM p)
        |SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  CAST(cusum_hi AS BIGINT) AS cusum_hi,
        |  CAST(cusum_lo AS BIGINT) AS cusum_lo,
        |  cusum_hi > 4 * k OR cusum_lo > 4 * k AS alarm
        |FROM s ORDER BY day""".stripMargin,
    // q255 — q236's arm kernel (shared CTE fragment) stratified by the
    // mean-activity split; directions as exact cross-product sign
    // comparisons; the reversed flag vs the pooled row's direction.
    "q255_simpson_audit" ->
      ("WITH " + abArmSql + """,
        |mn AS (SELECT SUM(n_ev) AS te, COUNT(*) AS nu FROM ar),
        |st AS (SELECT arm, conv,
        |    CASE WHEN n_ev > te // nu THEN 'heavy' ELSE 'light' END
        |      AS stratum
        |  FROM ar, mn),
        |ps AS (SELECT stratum,
        |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END) AS conv_a,
        |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END) AS conv_b
        |  FROM st GROUP BY stratum),
        |al AS (SELECT * FROM ps
        |  UNION ALL SELECT 'pooled', SUM(n_a), SUM(conv_a), SUM(n_b),
        |    SUM(conv_b) FROM ps),
        |dd AS (SELECT stratum, n_a, conv_a, n_b, conv_b,
        |    CASE WHEN conv_a * n_b > conv_b * n_a THEN 1
        |         WHEN conv_a * n_b < conv_b * n_a THEN -1
        |         ELSE 0 END AS dir
        |  FROM al),
        |pd AS (SELECT dir AS pooled_dir FROM dd WHERE stratum = 'pooled')
        |SELECT stratum, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(conv_a AS BIGINT) AS conv_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(conv_b AS BIGINT) AS conv_b,
        |  CASE WHEN n_a > 0
        |    THEN ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |  END AS rate_a,
        |  CASE WHEN n_b > 0
        |    THEN ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |  END AS rate_b,
        |  CAST(dir AS INTEGER) AS dir,
        |  stratum <> 'pooled' AND dir <> 0 AND pooled_dir <> 0
        |    AND dir <> pooled_dir AS reversed
        |FROM dd, pd ORDER BY stratum""").stripMargin,
    // q256 — leave-one-source-out jackknife: exact integer sufficient
    // statistics, 8dp-rounded per-source thetas, decimal sums, the same
    // two final divisions.
    "q256_jackknife_ratio" ->
      """WITH per AS (SELECT source, COUNT(*) AS nd,
        |    SUM(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                        w -> w <> ''))) AS tk
        |  FROM documents GROUP BY source),
        |tot AS (SELECT SUM(nd) AS td, SUM(tk) AS tt, COUNT(*) AS g
        |  FROM per),
        |th AS (SELECT ROUND(CAST(tt - tk AS DOUBLE)
        |    / CAST(td - nd AS DOUBLE), 8) AS th FROM per, tot),
        |mn AS (SELECT CAST(SUM(CAST(ROUND(th, 8) AS DECIMAL(18,8)))
        |      AS DOUBLE) / CAST(g AS DOUBLE) AS thbar
        |  FROM th, tot GROUP BY g),
        |ss AS (SELECT SUM(CAST(ROUND((th - thbar) * (th - thbar), 8)
        |    AS DECIMAL(18,8))) AS ss8 FROM th, mn)
        |SELECT CAST(g AS BIGINT) AS n_sources,
        |  ROUND(CAST(tt AS DOUBLE) / CAST(td AS DOUBLE), 6) AS theta,
        |  ROUND(sqrt(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE)
        |    * CAST(ss8 AS DOUBLE)), 6) AS jk_se
        |FROM ss, tot""".stripMargin,
    // q257 — the q74 BM25 replayed per corpus variant (base slice vs
    // full), 6dp-rounded scores → exact integer overlaps per depth →
    // decimal RBO terms with the SAME (1.0 − 0.9) expression both
    // engines constant-fold identically.
    "q257_rbo_drift" ->
      """WITH tb AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
        |    FROM documents WHERE doc_id % 10 < 7) GROUP BY doc_id, w),
        |dlb AS (SELECT doc_id, SUM(tf) AS dl FROM tb GROUP BY doc_id),
        |stb AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlb),
        |qtb AS (SELECT * FROM tb WHERE term IN ('scan', 'data', 'merge')),
        |dfb AS (SELECT term, COUNT(*) AS df FROM qtb GROUP BY term),
        |pbb AS (
        |  SELECT qtb.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(stb.n_docs AS DOUBLE)
        |                - CAST(dfb.df AS DOUBLE) + 0.5)
        |               / (CAST(dfb.df AS DOUBLE) + 0.5))
        |      * ((CAST(qtb.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(qtb.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75
        |                     + 0.75 * CAST(dlb.dl AS DOUBLE) / stb.avgdl))),
        |      8) AS DECIMAL(18,8)) AS part
        |  FROM qtb JOIN dfb USING (term) JOIN dlb USING (doc_id)
        |  CROSS JOIN stb),
        |sb AS (SELECT doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS s
        |  FROM pbb GROUP BY doc_id),
        |ra AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rn
        |  FROM sb WHERE s > 0.0),
        |tf2 AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
        |    FROM documents) GROUP BY doc_id, w),
        |dlf AS (SELECT doc_id, SUM(tf) AS dl FROM tf2 GROUP BY doc_id),
        |stf AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlf),
        |qtf AS (SELECT * FROM tf2 WHERE term IN ('scan', 'data', 'merge')),
        |dff AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
        |pbf AS (
        |  SELECT qtf.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(stf.n_docs AS DOUBLE)
        |                - CAST(dff.df AS DOUBLE) + 0.5)
        |               / (CAST(dff.df AS DOUBLE) + 0.5))
        |      * ((CAST(qtf.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(qtf.tf AS DOUBLE)
        |            + 1.2 * (1.0 - 0.75
        |                     + 0.75 * CAST(dlf.dl AS DOUBLE) / stf.avgdl))),
        |      8) AS DECIMAL(18,8)) AS part
        |  FROM qtf JOIN dff USING (term) JOIN dlf USING (doc_id)
        |  CROSS JOIN stf),
        |sf AS (SELECT doc_id, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS s
        |  FROM pbf GROUP BY doc_id),
        |rb AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rn
        |  FROM sf WHERE s > 0.0),
        |j AS (SELECT GREATEST(ra.rn, rb.rn) AS mr
        |  FROM ra JOIN rb USING (doc_id)
        |  WHERE ra.rn <= 20 AND rb.rn <= 20),
        |sp AS (SELECT unnest(generate_series(1, 20)) AS d),
        |ov AS (SELECT d,
        |    (SELECT COUNT(*) FROM j WHERE mr <= d) AS overlap FROM sp),
        |tm AS (SELECT d, overlap,
        |    ROUND(CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE), 6)
        |      AS agreement,
        |    CAST(ROUND((1.0 - 0.9) * pow(0.9, d - 1)
        |      * (CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS term8
        |  FROM ov)
        |SELECT CAST(d AS INTEGER) AS d, CAST(overlap AS BIGINT) AS overlap,
        |  agreement,
        |  ROUND(CAST(SUM(term8) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE),
        |    6) AS rbo_cum
        |FROM tm ORDER BY d""".stripMargin,
    // q258 — ECE/MCE over q240's fixed-bin reliability table; the bin
    // confidence is the logistic of the bin midpoint on the declared
    // /2000 scale, 8dp-rounded so libm exp ulp wobble cannot leak.
    "q258_calibration_ece" ->
      (classifierScoreSql + "," +
        scoreVsGateSql +
        """
        |, b AS (SELECT bin, COUNT(*) AS n_docs,
        |    ROUND(CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
        |  FROM sg GROUP BY bin),
        |gp AS (SELECT n_docs,
        |    abs(pass_rate - ROUND(1.0 / (1.0
        |      + exp(CAST(bin * 50 - 20000 + 25 AS DOUBLE) / -2000.0)), 8))
        |      AS g
        |  FROM b)
        |SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  ROUND(CAST(SUM(CAST(ROUND(g * n_docs, 8) AS DECIMAL(18,8)))
        |    AS DOUBLE) / CAST(SUM(n_docs) AS DOUBLE), 6) AS ece,
        |  ROUND(MAX(g), 6) AS mce
        |FROM gp""").stripMargin,
    // q259 — the ingest over the ERASED-AND-RECOMMITTED spill, oracled
    // monolithically: surviving capped baskets (subject customers
    // removed), room-capped admission against them, delta = pairs
    // touching an admitted-novel edge; co_after = the full count over
    // the admitted set (= erased count + delta by the split identity).
    "q259_erase_commit" ->
      """WITH eb AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 < 7),
        |cb AS (SELECT c, p FROM (SELECT c, p,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM eb)
        |  WHERE rn <= 256),
        |sb AS (SELECT c, p FROM cb WHERE c % 10 <> 0),
        |sz AS (SELECT c, COUNT(*) AS nb FROM sb GROUP BY c),
        |eg AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 7),
        |nv0 AS (SELECT c, p FROM eg EXCEPT SELECT c, p FROM sb),
        |nv AS (SELECT c, p FROM (SELECT nv0.c, nv0.p,
        |    ROW_NUMBER() OVER (PARTITION BY nv0.c ORDER BY nv0.p) AS rn,
        |    COALESCE(sz.nb, 0) AS nb
        |  FROM nv0 LEFT JOIN sz ON sz.c = nv0.c)
        |  WHERE rn <= 256 - nb),
        |adm AS (SELECT c, p FROM sb UNION ALL SELECT c, p FROM nv),
        |pf AS (SELECT a.c, a.p AS p1, b.p AS p2
        |  FROM adm a JOIN adm b ON a.c = b.c AND a.p < b.p),
        |tc AS (SELECT p1, p2, COUNT(*) AS co_full,
        |    SUM(CASE WHEN n1.p IS NOT NULL OR n2.p IS NOT NULL
        |      THEN 1 ELSE 0 END) AS delta
        |  FROM pf
        |  LEFT JOIN nv n1 ON n1.c = pf.c AND n1.p = pf.p1
        |  LEFT JOIN nv n2 ON n2.c = pf.c AND n2.p = pf.p2
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(delta AS BIGINT) AS delta_co,
        |  CAST(co_full AS BIGINT) AS co_after
        |FROM tc WHERE delta > 0 ORDER BY p1, p2""".stripMargin,
    // q260/q261/q262 — the durable erase-commit twins serve the SAME
    // labeling/procedure from reloaded marker-committed spills, and
    // restart ≡ continuous (EraseStateSpec binds each reloaded erased
    // spill to the from-scratch erased state), so the in-memory erasure
    // queries' oracles apply verbatim.
    "q260_erase_commit_fp" -> eraseFpStoreOracleSql,
    "q261_erase_commit_band" -> eraseBandIndexOracleSql,
    "q262_erase_commit_graph" -> eraseLpaOracleSql,
    // q263 — per-vector accounting of the erased+re-ingested IVF-PQ
    // index: membership is id/norm arithmetic (m code rows in one cell
    // per indexed vector regardless of code VALUES — the q225 argument);
    // the values are spec-bound to the monolithic surviving encode.
    "q263_erase_commit_ivfpq" ->
      """SELECT vec_id,
        |  CASE WHEN vec_id % 10 < 7 THEN 'standing' ELSE 'ingest' END
        |    AS origin,
        |  CAST(8 AS BIGINT) AS n_codes, CAST(1 AS BIGINT) AS n_cells
        |FROM embeddings
        |WHERE list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
        |  AND NOT (vec_id % 10 < 7 AND vec_id % 10 = 0)
        |ORDER BY vec_id""".stripMargin,
    // q264 — every metric is an integer count over a committed spill;
    // the oracle replays each from the same id/norm arithmetic (the
    // q225 machinery restricted to the committed-state rows).
    "q264_erase_commit_certificate" -> eraseCommitCertificateOracleSql,
    // q265 — the conditional-commit chain, oracled monolithically as
    // ERASE-THEN-INGEST: the oracle matches ONLY the conflict-then-
    // re-derive outcome (a stale ingest commit winning would resurrect
    // the subjects' baskets and change the ledger on exactly their
    // pairs), so the hash match certifies the lost update did not
    // happen — q250's chained-CTE shape with the erase stage inserted.
    "q265_cas_ingest_chain" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 < 5),
        |cb AS (SELECT c, p FROM (SELECT c, p,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM e0)
        |  WHERE rn <= 256),
        |sb AS (SELECT c, p FROM cb WHERE c % 10 <> 0),
        |s0 AS (SELECT c, COUNT(*) AS nb FROM sb GROUP BY c),
        |ea AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 5 AND o.o_orderkey % 10 < 7),
        |na0 AS (SELECT c, p FROM ea EXCEPT SELECT c, p FROM sb),
        |na AS (SELECT c, p FROM (SELECT na0.c, na0.p,
        |    ROW_NUMBER() OVER (PARTITION BY na0.c ORDER BY na0.p) AS rn,
        |    COALESCE(s0.nb, 0) AS nb
        |  FROM na0 LEFT JOIN s0 ON s0.c = na0.c)
        |  WHERE rn <= 256 - nb),
        |s1 AS (SELECT c, p FROM sb UNION ALL SELECT c, p FROM na),
        |sz1 AS (SELECT c, COUNT(*) AS nb FROM s1 GROUP BY c),
        |egb AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey % 10 >= 7),
        |nb0 AS (SELECT c, p FROM egb EXCEPT SELECT c, p FROM s1),
        |nv AS (SELECT c, p FROM (SELECT nb0.c, nb0.p,
        |    ROW_NUMBER() OVER (PARTITION BY nb0.c ORDER BY nb0.p) AS rn,
        |    COALESCE(sz1.nb, 0) AS nb
        |  FROM nb0 LEFT JOIN sz1 ON sz1.c = nb0.c)
        |  WHERE rn <= 256 - nb),
        |adm AS (SELECT c, p FROM s1 UNION ALL SELECT c, p FROM nv),
        |pf AS (SELECT a.c, a.p AS p1, b.p AS p2
        |  FROM adm a JOIN adm b ON a.c = b.c AND a.p < b.p),
        |tc AS (SELECT p1, p2, COUNT(*) AS co_full,
        |    SUM(CASE WHEN n1.p IS NOT NULL OR n2.p IS NOT NULL
        |      THEN 1 ELSE 0 END) AS delta
        |  FROM pf
        |  LEFT JOIN nv n1 ON n1.c = pf.c AND n1.p = pf.p1
        |  LEFT JOIN nv n2 ON n2.c = pf.c AND n2.p = pf.p2
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(delta AS BIGINT) AS delta_co,
        |  CAST(co_full AS BIGINT) AS co_after
        |FROM tc WHERE delta > 0 ORDER BY p1, p2""".stripMargin,
  )

  /** q264's oracle: the committed-state counts from first principles —
    * the q225 CTEs with the graph tier's postings/labels faces added. */
  private def eraseCommitCertificateOracleSql: String =
    """WITH w AS (SELECT DISTINCT doc_id, word FROM (
      |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
      |    FROM documents) WHERE word <> ''),
      |f AS (SELECT doc_id FROM w GROUP BY doc_id),
      |led AS (SELECT doc_id FROM f WHERE doc_id % 10 < 7),
      |tkl AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS tk FROM documents),
      |b3 AS (SELECT doc_id FROM tkl WHERE len(tk) >= 3 AND doc_id % 10 < 7),
      |bg AS (SELECT DISTINCT doc_id, gram FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
      |  FROM tkl WHERE len(tk) >= 3 AND doc_id % 10 < 7)),
      |sg AS (SELECT doc_id, gram FROM bg WHERE doc_id % 7 <> 0),
      |bp AS (SELECT doc_id, gram FROM (
      |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |  FROM bg) WHERE df <= 3),
      |bpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bp a JOIN bp b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |sp AS (SELECT doc_id, gram FROM (
      |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |  FROM sg) WHERE df <= 3),
      |spr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sp a JOIN sp b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |lb AS (SELECT DISTINCT id FROM (
      |  SELECT d1 AS id FROM bpr UNION ALL SELECT d2 AS id FROM bpr)),
      |cfe AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey % 10 < 7),
      |cfb AS (SELECT c, p FROM (SELECT c, p,
      |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM cfe)
      |  WHERE rn <= 256),
      |cfc AS (SELECT a.p AS p1, b.p AS p2, COUNT(*) AS co,
      |    SUM(CASE WHEN a.c % 10 = 0 THEN 1 ELSE 0 END) AS dec
      |  FROM cfb a JOIN cfb b ON a.c = b.c AND a.p < b.p GROUP BY 1, 2),
      |ev AS (SELECT vec_id FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
      |    AND vec_id % 10 < 7)
      |SELECT * FROM (
      |  SELECT 'fp_store' AS state, 'rows_before' AS metric,
      |    CAST(COUNT(*) AS BIGINT) AS value FROM led
      |  UNION ALL SELECT 'fp_store', 'rows_removed',
      |    CAST(COUNT(*) AS BIGINT) FROM led WHERE doc_id % 10 = 0
      |  UNION ALL SELECT 'fp_store', 'rows_after',
      |    CAST(COUNT(*) AS BIGINT) FROM led WHERE doc_id % 10 <> 0
      |  UNION ALL SELECT 'fp_store', 'residual_subject_rows',
      |    CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'band_index', 'rows_before',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3
      |  UNION ALL SELECT 'band_index', 'rows_removed',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3 WHERE doc_id % 10 = 0
      |  UNION ALL SELECT 'band_index', 'rows_after',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3 WHERE doc_id % 10 <> 0
      |  UNION ALL SELECT 'band_index', 'residual_subject_rows',
      |    CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'graph', 'postings_before',
      |    CAST(COUNT(*) AS BIGINT) FROM bg
      |  UNION ALL SELECT 'graph', 'postings_after',
      |    CAST(COUNT(*) AS BIGINT) FROM sg
      |  UNION ALL SELECT 'graph', 'pairs_before',
      |    CAST(COUNT(*) AS BIGINT) FROM bpr
      |  UNION ALL SELECT 'graph', 'pairs_after',
      |    CAST(COUNT(*) AS BIGINT) FROM spr
      |  UNION ALL SELECT 'graph', 'labels_before',
      |    CAST(COUNT(*) AS BIGINT) FROM lb
      |  UNION ALL SELECT 'graph', 'labels_after',
      |    CAST(COUNT(*) AS BIGINT) FROM lb WHERE id % 7 <> 0
      |  UNION ALL SELECT 'graph', 'residual_subject_rows',
      |    CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'cf_state', 'edges_before',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb
      |  UNION ALL SELECT 'cf_state', 'edges_removed',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb WHERE c % 10 = 0
      |  UNION ALL SELECT 'cf_state', 'edges_after',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb WHERE c % 10 <> 0
      |  UNION ALL SELECT 'cf_state', 'pairs_after',
      |    CAST(COUNT(*) AS BIGINT) FROM cfc WHERE dec < co
      |  UNION ALL SELECT 'cf_state', 'residual_subject_rows',
      |    CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_before',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_removed',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev WHERE vec_id % 10 = 0
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_after',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev WHERE vec_id % 10 <> 0
      |  UNION ALL SELECT 'ivfpq_codes', 'residual_subject_rows',
      |    CAST(0 AS BIGINT))
      |ORDER BY state, metric""".stripMargin

  /** q220's oracle (shared by q260, the durable twin): the erase-then-
    * ingest fp labeling replayed from first principles, the corpus face
    * split pre/post erasure. */
  private def eraseFpStoreOracleSql: String =
    """WITH w AS (SELECT DISTINCT doc_id, word FROM (
      |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
      |    FROM documents) WHERE word <> ''),
      |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
      |  FROM w GROUP BY doc_id),
      |pre AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
      |post AS (SELECT DISTINCT fp FROM f
      |  WHERE doc_id % 10 < 7 AND doc_id % 10 <> 0),
      |inc AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 >= 7),
      |m AS (SELECT fp, MIN(doc_id) AS first_id FROM inc GROUP BY fp)
      |SELECT i.doc_id, i.fp,
      |  CASE WHEN po.fp IS NOT NULL THEN 'dup_existing'
      |       WHEN i.doc_id > m.first_id THEN 'dup_batch'
      |       ELSE 'new' END AS status,
      |  (po.fp IS NULL AND pr.fp IS NOT NULL) AS resurrected
      |FROM inc i LEFT JOIN post po ON i.fp = po.fp
      |  LEFT JOIN pre pr ON i.fp = pr.fp
      |  JOIN m ON i.fp = m.fp
      |ORDER BY i.doc_id""".stripMargin

  /** q221's oracle (shared by q261, the durable twin): q106's exact
    * cross-split Jaccard replay, with the corpus face split pre/post
    * erasure (corpus ids ≡ 0 mod 10 removed); `freed` marks batch docs
    * whose every verified corpus near-match was erased. */
  private def eraseBandIndexOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
      |    FROM tk WHERE len(tk) >= 3)),
      |ssz AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      |ipair AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT d1, d2 FROM ipair
      |  JOIN ssz s1 ON s1.doc_id = ipair.d1
      |  JOIN ssz s2 ON s2.doc_id = ipair.d2
      |  WHERE ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 4) >= 0.7),
      |cm AS (SELECT CASE WHEN d1 % 10 >= 7 THEN d1 ELSE d2 END AS bid,
      |              CASE WHEN d1 % 10 >= 7 THEN d2 ELSE d1 END AS cid
      |       FROM p WHERE (d1 % 10 < 7) <> (d2 % 10 < 7)),
      |dupc_pre AS (SELECT DISTINCT bid AS id FROM cm),
      |dupc_post AS (SELECT DISTINCT bid AS id FROM cm WHERE cid % 10 <> 0),
      |dupb AS (
      |  SELECT DISTINCT d2 AS id FROM p
      |  WHERE d1 % 10 >= 7 AND d2 % 10 >= 7)
      |SELECT doc_id,
      |  CASE WHEN doc_id IN (SELECT id FROM dupc_post) THEN 'neardup_corpus'
      |       WHEN doc_id IN (SELECT id FROM dupb) THEN 'neardup_batch'
      |       ELSE 'new' END AS status,
      |  (doc_id IN (SELECT id FROM dupc_pre)
      |   AND doc_id NOT IN (SELECT id FROM dupc_post)) AS freed
      |FROM documents WHERE doc_id % 10 >= 7 ORDER BY doc_id""".stripMargin

  /** q146's oracle: the KN model (q138 arithmetic, same operation order
    * so ln() sees bit-identical doubles) joined back over per-doc bigram
    * counts; q94's 8 dp term → DECIMAL sum → 6 dp final discipline. */
  private def knPerplexityOracleSql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS tk
      |  FROM documents),
      |db AS (SELECT doc_id, w1, w2, COUNT(*) AS c_d FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
      |      unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS w2
      |    FROM tk WHERE len(tk) >= 2)
      |  GROUP BY doc_id, w1, w2),
      |bc AS (SELECT w1, w2, CAST(SUM(c_d) AS BIGINT) AS cnt
      |  FROM db GROUP BY w1, w2),
      |fl AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1, COUNT(*) AS nf
      |  FROM bc GROUP BY w1),
      |pc AS (SELECT w2, COUNT(*) AS np FROM bc GROUP BY w2),
      |ty AS (SELECT COUNT(*) AS tt FROM bc),
      |md AS (SELECT bc.w1, bc.w2,
      |    GREATEST(CAST(bc.cnt AS DOUBLE) - 0.75, 0.0) / CAST(fl.c1 AS DOUBLE)
      |    + (0.75 * CAST(fl.nf AS DOUBLE) / CAST(fl.c1 AS DOUBLE))
      |      * (CAST(pc.np AS DOUBLE) / CAST(ty.tt AS DOUBLE)) AS pkn
      |  FROM bc JOIN fl USING (w1) JOIN pc USING (w2), ty),
      |terms AS (SELECT db.doc_id, db.c_d,
      |    CAST(ROUND(CAST(db.c_d AS DOUBLE) * -ln(md.pkn), 8)
      |      AS DECIMAL(18,8)) AS term
      |  FROM db JOIN md USING (w1, w2))
      |SELECT doc_id, CAST(SUM(c_d) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(c_d) AS DOUBLE), 6)
      |    AS kn_nll
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q145's oracle: eight BPE iterations unrolled as CTE chains. Each
    * iteration re-derives the greedy-leftmost merge with the SAME closed
    * form the engine uses (graft.text.Bpe: merge(i) = match(i) and the
    * consecutive-match run before i has even length) — pure list
    * arithmetic, so the whole training loop cross-checks exactly. */
  /** The augmented deterministic corpus (TextAnalysis.augmentedWords)
    * as a DuckDB CTE `aw(doc_id, source, word)` — the three-step Lehmer
    * chain, head/tail mixture, and base-26 render replayed with pure
    * integer arithmetic, so both engines derive the identical token
    * stream (the q111 planted-twin convention). */
  private def augWordsSql: String =
    """aw AS (
      |  SELECT doc_id, source,
      |    chr(97 + CAST((r // 17576) % 26 AS INTEGER)) ||
      |    chr(97 + CAST((r // 676) % 26 AS INTEGER)) ||
      |    chr(97 + CAST((r // 26) % 26 AS INTEGER)) ||
      |    chr(97 + CAST(r % 26 AS INTEGER)) AS word
      |  FROM (
      |    SELECT doc_id, source,
      |      CASE WHEN u2 % 10 < 7 THEN 100000 // (u3 % 100000 + 1)
      |           ELSE 200000 + u3 % 8000 END AS r
      |    FROM (
      |      SELECT doc_id, source, u2, (u2 * 48271) % 2147483647 AS u3
      |      FROM (
      |        SELECT doc_id, source,
      |          (((doc_id * 409 + i) * 48271) % 2147483647 * 48271)
      |            % 2147483647 AS u2
      |        FROM documents, (SELECT unnest(range(1, 97)) AS i) sq))))"""
      .stripMargin

  private def bpeOracleSql: String = {
    // match(POS) fragment for symbol list t and the b{k} scalars l, r
    def m(pos: String) =
      s"($pos < len(t) AND t[$pos] = l AND t[$pos + 1] = r)"
    // rounds MATERIALIZED: each m_k reads the previous vocab alongside
    // b_k's subtree (which reads it again) — inlined, the plan doubles
    // per round (the q165 oracle's shape)
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT l, r, SUM(cnt) AS n FROM (
         |    SELECT cnt,
         |      unnest(list_transform(range(1, len(t)), i -> t[i])) AS l,
         |      unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS r
         |    FROM $prev)
         |  GROUP BY l, r),
         |b$k AS MATERIALIZED (SELECT l, r, n FROM p$k
         |  ORDER BY n DESC, l, r LIMIT 1),
         |m$k AS (SELECT cnt, t,
         |    list_transform(range(1, len(t) + 1), i ->
         |      ${m("i")}
         |      AND ((i - 1 - CASE WHEN i = 1 THEN 0
         |        ELSE COALESCE(list_max(list_filter(range(1, i),
         |          j -> NOT ${m("j")})), 0) END) % 2 = 0)) AS mf
         |  FROM $prev, b$k),
         |r$k AS MATERIALIZED (SELECT cnt,
         |    list_filter(list_transform(range(1, len(t) + 1), i ->
         |      CASE WHEN mf[i] THEN l || r
         |           WHEN i > 1 AND mf[i - 1] THEN NULL
         |           ELSE t[i] END), x -> x IS NOT NULL) AS t
         |  FROM m$k, b$k)""".stripMargin
    }
    val iters = 8
    val chains = (1 to iters).map(iter).mkString(",\n")
    val unions = (1 to iters).map { k =>
      if (k == 1)
        s"""SELECT 1 AS rank, l AS "left", r AS "right", l || r AS merged,
           |  CAST(n AS BIGINT) AS n FROM b1""".stripMargin
      else s"SELECT $k, l, r, l || r, CAST(n AS BIGINT) FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH $augWordsSql,
       |v0 AS (SELECT word, COUNT(*) AS cnt FROM aw GROUP BY word),
       |r0 AS MATERIALIZED (SELECT cnt, string_split(word, '') AS t FROM v0),
       |$chains
       |$unions
       |ORDER BY rank""".stripMargin
  }

  /** q165's oracle: the q145 training chain with (source, word) carried
    * through every round (pair totals are unchanged — they sum over the
    * finer rows), rounds MATERIALIZED (each m_k references the previous
    * vocab alongside b_k's subtree — inlined, the tree doubles per
    * round), then the per-source token accounting off the final vocab. */
  private def bpeEncodeOracleSql: String = {
    def m(pos: String) =
      s"($pos < len(t) AND t[$pos] = l AND t[$pos + 1] = r)"
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT l, r, SUM(cnt) AS n FROM (
         |    SELECT cnt,
         |      unnest(list_transform(range(1, len(t)), i -> t[i])) AS l,
         |      unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS r
         |    FROM $prev)
         |  GROUP BY l, r),
         |b$k AS MATERIALIZED (
         |  (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1)
         |  UNION ALL
         |  (SELECT chr(1), chr(1), 0
         |   WHERE NOT EXISTS (SELECT 1 FROM p$k))),
         |m$k AS (SELECT source, word, cnt, t,
         |    list_transform(range(1, len(t) + 1), i ->
         |      ${m("i")}
         |      AND ((i - 1 - CASE WHEN i = 1 THEN 0
         |        ELSE COALESCE(list_max(list_filter(range(1, i),
         |          j -> NOT ${m("j")})), 0) END) % 2 = 0)) AS mf
         |  FROM $prev, b$k),
         |r$k AS MATERIALIZED (SELECT source, word, cnt,
         |    list_filter(list_transform(range(1, len(t) + 1), i ->
         |      CASE WHEN mf[i] THEN l || r
         |           WHEN i > 1 AND mf[i - 1] THEN NULL
         |           ELSE t[i] END), x -> x IS NOT NULL) AS t
         |  FROM m$k, b$k)""".stripMargin
    }
    val iters = 8
    val chains = (1 to iters).map(iter).mkString(",\n")
    s"""WITH tk AS (SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                       x -> x <> '')) AS word FROM documents),
       |v0 AS (SELECT source, word, COUNT(*) AS cnt FROM tk
       |  GROUP BY source, word),
       |r0 AS MATERIALIZED (SELECT source, word, cnt,
       |  string_split(word, '') AS t FROM v0),
       |$chains,
       |agg AS (SELECT source,
       |    SUM(cnt) AS n_words,
       |    SUM(cnt * len(t)) AS n_tokens,
       |    SUM(cnt * length(word)) AS n_chars
       |  FROM r$iters GROUP BY source),
       |ty AS (SELECT source, COUNT(DISTINCT tok) AS n_token_types FROM (
       |    SELECT source, unnest(t) AS tok FROM r$iters)
       |  GROUP BY source)
       |SELECT a.source, CAST(a.n_words AS BIGINT) AS n_words,
       |  CAST(a.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(a.n_chars AS BIGINT) AS n_chars,
       |  CAST(ty.n_token_types AS BIGINT) AS n_token_types,
       |  ROUND(CAST(a.n_tokens AS DOUBLE) / a.n_words, 4) AS tokens_per_word,
       |  ROUND(CAST(a.n_tokens AS DOUBLE) / a.n_chars, 4) AS tokens_per_char
       |FROM agg a JOIN ty ON a.source = ty.source
       |ORDER BY a.source""".stripMargin
  }

  /** q144's oracle: DSIR log importance weights recomputed exactly — the
    * portable poly31+splitmix64 hash (winnowFpSql HUGEINT treatment) over
    * each DISTINCT bigram string gives the feature bucket (mod 1024, a
    * divisor of 2^64 so unsigned mod ≡ the engine's signed pmod); both
    * smoothed feature models are integer-count aggregates; per-(doc,
    * feature) log terms follow the q94 convention (8 dp round → DECIMAL
    * sum → 6 dp final). */
  private def dsirOracleSql: String =
    """WITH tk AS (SELECT doc_id, lang = 'en' AS tgt,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS tk
      |  FROM documents),
      |gr AS (SELECT doc_id, tgt,
      |    unnest(list_transform(range(1, len(tk)),
      |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g
      |  FROM tk WHERE len(tk) >= 2),
      |gs AS (SELECT DISTINCT g FROM gr),
      |hp AS (SELECT g,
      |    list_reduce(list_transform(string_split(g, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM gs),
      |h1 AS (SELECT g, xor(p, p//1073741824) AS x1 FROM hp),
      |h2 AS (SELECT g,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT g, xor(x2, x2//134217728) AS x3 FROM h2),
      |h4 AS (SELECT g,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT g, xor(x4, x4//2147483648) AS x5 FROM h4),
      |fb AS (SELECT g, CAST(x5 % 1024 AS BIGINT) AS f FROM h5),
      |fe AS (SELECT doc_id, tgt, f, COUNT(*) AS cnt
      |  FROM gr JOIN fb USING (g) GROUP BY doc_id, tgt, f),
      |tf AS (SELECT f, SUM(cnt) AS t FROM fe WHERE tgt GROUP BY f),
      |tt AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS bigT
      |  FROM fe WHERE tgt),
      |rf AS (SELECT f, SUM(cnt) AS r FROM fe WHERE NOT tgt GROUP BY f),
      |rt AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS bigR
      |  FROM fe WHERE NOT tgt),
      |terms AS (SELECT fe.doc_id, fe.cnt,
      |    CAST(ROUND(CAST(fe.cnt AS DOUBLE) * (
      |        ln((CAST(COALESCE(tf.t, 0) AS DOUBLE) + 1.0)
      |           / (CAST(tt.bigT AS DOUBLE) + 1024.0))
      |      - ln((CAST(rf.r AS DOUBLE) + 1.0)
      |           / (CAST(rt.bigR AS DOUBLE) + 1024.0))), 8)
      |      AS DECIMAL(18,8)) AS term
      |  FROM fe JOIN rf USING (f) LEFT JOIN tf USING (f), tt, rt
      |  WHERE NOT fe.tgt)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS logw
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q143's oracle: the count-min grid recomputed losslessly — the
    * portable poly31+splitmix64 token hash (TokenHashExpr, emulated in
    * HUGEINT per the winnowFpSql note) over the "r#word" domain-separated
    * key; bucket = hash mod 16 (16 divides 2^64, so unsigned mod ≡ the
    * engine's signed pmod); counters are integer sums over the vocab
    * table; estimates are min-over-rows for the top-20 true-count words. */
  private def countMinOracleSql: String =
    """WITH tk AS (SELECT
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS word FROM documents),
      |cw AS (SELECT word, COUNT(*) AS n FROM tk GROUP BY word),
      |ky AS (SELECT word, n, unnest(range(0, 4)) AS r FROM cw),
      |k2 AS (SELECT word, n, r,
      |    CAST(r AS VARCHAR) || '#' || word AS hkey FROM ky),
      |hp AS (SELECT word, n, r,
      |    list_reduce(list_transform(string_split(hkey, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM k2),
      |h1 AS (SELECT word, n, r, xor(p, p//1073741824) AS x1 FROM hp),
      |h2 AS (SELECT word, n, r,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT word, n, r, xor(x2, x2//134217728) AS x3 FROM h2),
      |h4 AS (SELECT word, n, r,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT word, n, r, xor(x4, x4//2147483648) AS x5 FROM h4),
      |cell AS (SELECT word, n, CAST(r AS INTEGER) AS r,
      |    CAST(x5 % 16 AS BIGINT) AS bucket FROM h5),
      |ctr AS (SELECT r, bucket, CAST(SUM(n) AS BIGINT) AS cnt
      |  FROM cell GROUP BY r, bucket),
      |top AS (SELECT word, n AS true_n FROM cw ORDER BY n DESC, word LIMIT 20),
      |est AS (SELECT t.word, t.true_n, MIN(ctr.cnt) AS est_n
      |  FROM top t JOIN cell c ON c.word = t.word
      |  JOIN ctr ON ctr.r = c.r AND ctr.bucket = c.bucket
      |  GROUP BY t.word, t.true_n)
      |SELECT word, true_n, est_n, est_n - true_n AS overcount
      |FROM est ORDER BY true_n DESC, word""".stripMargin

  /** q148's oracle: the q143 grid recomputation split by corpus slice
    * (base doc_id%10<7 vs incremental remainder) — per-cell conditional
    * sums, per-word min over rows of EACH grid, and the additive total. */
  private def incrementalSketchOracleSql: String =
    """WITH tk AS (SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS word FROM documents),
      |cw AS (SELECT word, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN doc_id % 10 < 7 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_base,
      |    CAST(SUM(CASE WHEN doc_id % 10 >= 7 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_incr
      |  FROM tk GROUP BY word),
      |ky AS (SELECT word, n, n_base, n_incr, unnest(range(0, 4)) AS r
      |  FROM cw),
      |k2 AS (SELECT word, n, n_base, n_incr, r,
      |    CAST(r AS VARCHAR) || '#' || word AS hkey FROM ky),
      |hp AS (SELECT word, n, n_base, n_incr, r,
      |    list_reduce(list_transform(string_split(hkey, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM k2),
      |h1 AS (SELECT word, n, n_base, n_incr, r, xor(p, p//1073741824) AS x1
      |  FROM hp),
      |h2 AS (SELECT word, n, n_base, n_incr, r,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT word, n, n_base, n_incr, r, xor(x2, x2//134217728) AS x3
      |  FROM h2),
      |h4 AS (SELECT word, n, n_base, n_incr, r,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT word, n, n_base, n_incr, r, xor(x4, x4//2147483648) AS x5
      |  FROM h4),
      |cell AS (SELECT word, n, n_base, n_incr, CAST(r AS INTEGER) AS r,
      |    CAST(x5 % 16 AS BIGINT) AS bucket FROM h5),
      |ctr AS (SELECT r, bucket,
      |    CAST(SUM(n_base) AS BIGINT) AS base_cnt,
      |    CAST(SUM(n_incr) AS BIGINT) AS incr_cnt
      |  FROM cell GROUP BY r, bucket),
      |top AS (SELECT word, n AS true_n FROM cw ORDER BY n DESC, word LIMIT 20),
      |est AS (SELECT t.word, t.true_n,
      |    MIN(ctr.base_cnt) AS est_base, MIN(ctr.incr_cnt) AS est_incr
      |  FROM top t JOIN cell c ON c.word = t.word
      |  JOIN ctr ON ctr.r = c.r AND ctr.bucket = c.bucket
      |  GROUP BY t.word, t.true_n)
      |SELECT word, true_n, est_base, est_incr,
      |  est_base + est_incr AS est_total
      |FROM est ORDER BY true_n DESC, word""".stripMargin

  /** q149's oracle: the KMV sketch re-derived — portable hash over
    * 'k#'||partkey per DISTINCT (flag, partkey), the 64th-smallest
    * unsigned hash per flag via a window (fine in the oracle; the engine
    * uses the bounded BottomK aggregate), estimate 63/u_64 with the
    * identical two-division IEEE arithmetic. */
  private def kmvOracleSql: String =
    """WITH dk AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
      |k2 AS (SELECT l_returnflag, l_partkey,
      |    'k#' || CAST(l_partkey AS VARCHAR) AS hkey FROM dk),
      |hp AS (SELECT l_returnflag, l_partkey,
      |    list_reduce(list_transform(string_split(hkey, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM k2),
      |h1 AS (SELECT l_returnflag, l_partkey, xor(p, p//1073741824) AS x1
      |  FROM hp),
      |h2 AS (SELECT l_returnflag, l_partkey,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT l_returnflag, l_partkey, xor(x2, x2//134217728) AS x3
      |  FROM h2),
      |h4 AS (SELECT l_returnflag, l_partkey,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT l_returnflag, l_partkey, xor(x4, x4//2147483648) AS x5
      |  FROM h4),
      |rk AS (SELECT l_returnflag, x5,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY x5, l_partkey) AS rn
      |  FROM h5),
      |gsz AS (SELECT l_returnflag, COUNT(*) AS ng FROM dk GROUP BY 1),
      |kth AS (SELECT l_returnflag, x5 FROM rk WHERE rn = 64),
      |ex AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_true
      |  FROM lineitem GROUP BY 1)
      |SELECT ex.l_returnflag, ex.n_true,
      |  CAST(LEAST(gsz.ng, 64) AS BIGINT) AS n_kept,
      |  CASE WHEN gsz.ng < 64 THEN CAST(gsz.ng AS DOUBLE)
      |       ELSE ROUND(63.0 /
      |         (CAST(kth.x5 AS DOUBLE) / 18446744073709551616.0), 4)
      |  END AS kmv_est
      |FROM ex JOIN gsz USING (l_returnflag)
      |LEFT JOIN kth USING (l_returnflag)
      |ORDER BY ex.l_returnflag""".stripMargin

  /** q150's oracle: theta-sketch set algebra over the q149 hash CTEs —
    * per-flag 64-sketches, per-pair union order statistic θ, match
    * counts below θ, and the union/Jaccard/intersection estimates with
    * the identical IEEE operation order. */
  private def kmvSetOpsOracleSql: String =
    """WITH dk AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
      |k2 AS (SELECT l_returnflag, l_partkey,
      |    'k#' || CAST(l_partkey AS VARCHAR) AS hkey FROM dk),
      |hp AS (SELECT l_returnflag, l_partkey,
      |    list_reduce(list_transform(string_split(hkey, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM k2),
      |h1 AS (SELECT l_returnflag, l_partkey, xor(p, p//1073741824) AS x1
      |  FROM hp),
      |h2 AS (SELECT l_returnflag, l_partkey,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT l_returnflag, l_partkey, xor(x2, x2//134217728) AS x3
      |  FROM h2),
      |h4 AS (SELECT l_returnflag, l_partkey,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT l_returnflag, l_partkey, xor(x4, x4//2147483648) AS x5
      |  FROM h4),
      |rk AS (SELECT l_returnflag AS f, x5,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY x5, l_partkey) AS rn
      |  FROM h5),
      |sk AS (SELECT f, x5 FROM rk WHERE rn <= 64),
      |fs AS (SELECT DISTINCT f FROM sk),
      |pairs AS (SELECT a.f AS f1, b.f AS f2 FROM fs a, fs b WHERE a.f < b.f),
      |uni AS (SELECT p.f1, p.f2, s.x5 FROM pairs p
      |  JOIN sk s ON s.f = p.f1 OR s.f = p.f2
      |  GROUP BY p.f1, p.f2, s.x5),
      |ur AS (SELECT f1, f2, x5,
      |    ROW_NUMBER() OVER (PARTITION BY f1, f2 ORDER BY x5) AS rn,
      |    COUNT(*) OVER (PARTITION BY f1, f2) AS nu
      |  FROM uni),
      |th AS (SELECT f1, f2, x5 AS theta_key FROM ur WHERE rn = LEAST(nu, 64)),
      |mt AS (SELECT p.f1, p.f2, COUNT(*) AS n_match FROM pairs p
      |  JOIN sk s1 ON s1.f = p.f1
      |  JOIN sk s2 ON s2.f = p.f2 AND s2.x5 = s1.x5
      |  JOIN th ON th.f1 = p.f1 AND th.f2 = p.f2 AND s1.x5 < th.theta_key
      |  GROUP BY p.f1, p.f2)
      |SELECT th.f1, th.f2,
      |  CAST(COALESCE(mt.n_match, 0) AS BIGINT) AS n_match,
      |  ROUND(63.0 / (CAST(th.theta_key AS DOUBLE)
      |    / 18446744073709551616.0), 4) AS union_est,
      |  ROUND(CAST(COALESCE(mt.n_match, 0) AS DOUBLE) / 63.0, 4)
      |    AS jaccard_est,
      |  ROUND((CAST(COALESCE(mt.n_match, 0) AS DOUBLE) / 63.0) *
      |    (63.0 / (CAST(th.theta_key AS DOUBLE) / 18446744073709551616.0)),
      |    4) AS intersect_est
      |FROM th LEFT JOIN mt ON mt.f1 = th.f1 AND mt.f2 = th.f2
      |ORDER BY th.f1, th.f2""".stripMargin

  /** q137's oracle: matrix entry (o,d) from the splitmix64 finalizer over
    * packed index 63·2^42 + o·2^21 + d (the winnowFpSql HUGEINT treatment
    * of the same constants), uniform [-0.5, 0.5] via (x >>> 11)/2^53 −
    * 0.5; per (vec_id, o) the in-order 64-term double dot, scaled by
    * √(12/16) and rounded at 4 dp — bit-identical to the native kernel. */
  private def jlProjectionOracleSql: String =
    """WITH idx AS (
      |  SELECT o.o AS o, d.d AS d
      |  FROM generate_series(0, 15) o(o), generate_series(0, 63) d(d)),
      |x0 AS (SELECT o, d,
      |  (277076930199552::HUGEINT + o::HUGEINT * 2097152 + d::HUGEINT
      |   + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS p
      |  FROM idx),
      |x1 AS (SELECT o, d, xor(p, p//1073741824) AS x1 FROM x0),
      |x2 AS (SELECT o, d,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM x1),
      |x3 AS (SELECT o, d, xor(x2, x2//134217728) AS x3 FROM x2),
      |x4 AS (SELECT o, d,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM x3),
      |x5 AS (SELECT o, d, xor(x4, x4//2147483648) AS x5 FROM x4),
      |comp AS (SELECT o, d,
      |  CAST(x5 // 2048 AS DOUBLE) / 9007199254740992.0 - 0.5 AS c FROM x5),
      |cl AS (SELECT o, list(c ORDER BY d) AS cs FROM comp GROUP BY o),
      |v AS (SELECT vec_id,
      |  list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
      |  FROM embeddings),
      |pr AS (SELECT vec_id, o AS dim,
      |  list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * cs[i])) AS s
      |  FROM v, cl)
      |SELECT vec_id, CAST(dim AS INTEGER) AS dim,
      |  ROUND(s * sqrt(12.0 / 16), 4) + 0.0 AS value
      |FROM pr ORDER BY vec_id, dim""".stripMargin

  /** q133's oracle: the 16-bit Morton interleave as a 16-term sum —
    * term i = 4^i · ((x >> i & 1) + 2·(y >> i & 1)) — over
    * x = custkey mod 2^16, y = days-since-1990 mod 2^16; then the same
    * per-file manifest aggregate and probe-overlap flag as the engine. */
  private def zorderOracleSql: String = {
    val terms = (0 until 16).map { i =>
      val p2 = 1L << i; val p4 = 1L << (2 * i)
      s"$p4 * ((x // $p2) % 2 + 2 * ((y // $p2) % 2))"
    }.mkString("\n      + ")
    s"""WITH b AS (
       |  SELECT o_custkey,
       |    date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day,
       |    o_custkey % 65536 AS x,
       |    date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) % 65536 AS y
       |  FROM orders),
       |z AS (
       |  SELECT o_custkey, day,
       |    ($terms) AS z
       |  FROM b),
       |m AS (
       |  SELECT z // 65536 AS file_id, COUNT(*) AS n_rows,
       |    MIN(o_custkey) AS min_custkey, MAX(o_custkey) AS max_custkey,
       |    MIN(day) AS min_day, MAX(day) AS max_day
       |  FROM z GROUP BY 1)
       |SELECT CAST(file_id AS BIGINT) AS file_id,
       |  CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(min_custkey AS BIGINT) AS min_custkey,
       |  CAST(max_custkey AS BIGINT) AS max_custkey,
       |  CAST(min_day AS BIGINT) AS min_day, CAST(max_day AS BIGINT) AS max_day,
       |  (min_custkey <= 199 AND max_custkey >= 100
       |   AND min_day <= date_diff('day', DATE '1990-01-01', DATE '1994-12-31')
       |   AND max_day >= date_diff('day', DATE '1990-01-01', DATE '1994-01-01'))
       |    AS would_scan
       |FROM m ORDER BY file_id""".stripMargin
  }

  /** q233's oracle: the Poisson bootstrap replayed weight-for-weight —
    * u from the splitmix64 chain over 'bs|b|doc' (the q137 >>> 11 / 2⁵³
    * uniform treatment), the inverse CDF against the SAME literals, the
    * per-resample weighted mean in the same operation order, and the
    * rank-1 / rank-31 order statistics. */
  private def bootstrapCiOracleSql: String =
    """WITH dd AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x <> '')) AS tok FROM documents),
      |g AS (SELECT doc_id, tok, s.bs
      |  FROM dd, generate_series(0, 31) s(bs)),
      |kp AS (SELECT doc_id, bs, tok,
      |    list_reduce(list_transform(string_split(
      |        'bs|' || CAST(bs AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR),
      |        ''), c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM g),
      |k1 AS (SELECT doc_id, bs, tok, xor(p, p//1073741824) AS x1 FROM kp),
      |k2 AS (SELECT doc_id, bs, tok,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM k1),
      |k3 AS (SELECT doc_id, bs, tok, xor(x2, x2//134217728) AS x3 FROM k2),
      |k4 AS (SELECT doc_id, bs, tok,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM k3),
      |k5 AS (SELECT doc_id, bs, tok, xor(x4, x4//2147483648) AS x5 FROM k4),
      |ku AS (SELECT bs, tok,
      |  CAST(x5 // 2048 AS DOUBLE) / 9007199254740992.0 AS u FROM k5),
      |wts AS (SELECT bs, tok,
      |  CASE WHEN u < 0.36787944117144233 THEN 0
      |       WHEN u < 0.7357588823428847 THEN 1
      |       WHEN u < 0.9196986029286058 THEN 2
      |       WHEN u < 0.9810118431238463 THEN 3
      |       WHEN u < 0.9963401531726563 THEN 4
      |       WHEN u < 0.9994058151824183 THEN 5
      |       WHEN u < 0.999916758850712 THEN 6
      |       ELSE 7 END AS w FROM ku),
      |mm AS (SELECT bs,
      |    CAST(SUM(w * tok) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
      |  FROM wts GROUP BY bs HAVING SUM(w) > 0),
      |rk AS (SELECT bs, m, ROW_NUMBER() OVER (ORDER BY m, bs) AS rn
      |  FROM mm),
      |ci AS (SELECT COUNT(*) AS n_resamples,
      |    MIN(CASE WHEN rn = 1 THEN m END) AS lo,
      |    MIN(CASE WHEN rn = 31 THEN m END) AS hi FROM rk),
      |pt AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pm
      |  FROM dd)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_resamples AS BIGINT) AS n_resamples,
      |  ROUND(pm, 6) AS point_mean, ROUND(lo, 6) AS ci_lo,
      |  ROUND(hi, 6) AS ci_hi
      |FROM pt, ci""".stripMargin

  /** q245/q246's shared CTE prefix: per-doc token counts, the q191 md5
    * slice selector in HUGEINT, one row per distinct value with both
    * slices' cumulative counts and the next-value gap. */
  private def tokenCdfSql: String =
    """WITH dd AS (SELECT
      |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |        x -> x <> '')) AS v,
      |    list_reduce(list_transform(
      |      string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
      |      ch -> (strpos('0123456789abcdef', ch) - 1)::HUGEINT),
      |      (a, b) -> a * 16 + b) % 10 >= 7 AS cur
      |  FROM documents),
      |pv AS (SELECT v,
      |    SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS b
      |  FROM dd GROUP BY v),
      |tt AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM pv),
      |cm AS (SELECT v,
      |    SUM(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS ca,
      |    SUM(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cb,
      |    LEAD(v) OVER (ORDER BY v) AS nv
      |  FROM pv)""".stripMargin

  /** q238's oracle: per-user purchase counts, the splitmix64 arm coin,
    * midranks via per-value cumulative counts (2·R_A kept integer), the
    * tie-corrected normal approximation in the engine's exact operation
    * order. */
  private def mannWhitneyOracleSql: String =
    """WITH u0 AS (SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m
      |  FROM events GROUP BY user_id),
      |kp AS (SELECT user_id, m,
      |    list_reduce(list_transform(string_split(
      |        'ab|' || CAST(user_id AS VARCHAR), ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM u0),
      |k1 AS (SELECT m, xor(p, p//1073741824) AS x1 FROM kp),
      |k2 AS (SELECT m,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM k1),
      |k3 AS (SELECT m, xor(x2, x2//134217728) AS x3 FROM k2),
      |k4 AS (SELECT m,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM k3),
      |k5 AS (SELECT m, xor(x4, x4//2147483648) AS x5 FROM k4),
      |ks AS (SELECT m,
      |  CAST(CASE WHEN x5 >= 9223372036854775808::HUGEINT
      |       THEN x5 - 18446744073709551616::HUGEINT ELSE x5 END AS BIGINT)
      |    AS hv FROM k5),
      |ar AS (SELECT m, ((hv % 2) + 2) % 2 AS arm FROM ks),
      |pv AS (SELECT m,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ta,
      |    COUNT(*) AS t
      |  FROM ar GROUP BY m),
      |cc AS (SELECT m, ta, t,
      |    COALESCE(SUM(t) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING), 0) AS c
      |  FROM pv),
      |ag AS (SELECT
      |    SUM(ta::HUGEINT) AS na, SUM((t - ta)::HUGEINT) AS nb,
      |    SUM((ta * (2*c + t + 1))::HUGEINT) AS ra2,
      |    SUM((t*t*t - t)::HUGEINT) AS ties
      |  FROM cc),
      |zz AS (SELECT na, nb, ra2,
      |    (CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE)
      |      * (CAST(na AS DOUBLE) + 1.0)) / 2.0
      |      - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0 AS u,
      |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
      |        - CAST(ties AS DOUBLE)
      |          / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
      |            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))
      |      AS sigma2
      |  FROM ag)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND((CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE)
      |    * (CAST(na AS DOUBLE) + 1.0)) / 2.0, 1) AS u_a,
      |  CASE WHEN sigma2 > 0.0 THEN ROUND(u / sqrt(sigma2), 6) END AS z,
      |  CASE WHEN sigma2 > 0.0 THEN abs(u / sqrt(sigma2)) > 1.96
      |    ELSE FALSE END AS significant
      |FROM zz""".stripMargin

  /** q236's oracle: per-user conversion, the splitmix64 arm coin over
    * 'ab|'||user_id replayed in HUGEINT, then the pooled two-proportion
    * z in the engine's exact operation order. */
  /** The q236/q255 arm-assignment kernel as a shared CTE fragment:
    * per-user conversion bit + activity count, then the splitmix64 coin
    * replayed losslessly in HUGEINT → `ar(arm, conv, n_ev)`. */
  private def abArmSql: String =
    """u0 AS (SELECT user_id, COUNT(*) AS n_ev,
      |    5 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      > COUNT(*) AS conv
      |  FROM events GROUP BY user_id),
      |kp AS (SELECT user_id, conv, n_ev,
      |    list_reduce(list_transform(string_split(
      |        'ab|' || CAST(user_id AS VARCHAR), ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM u0),
      |k1 AS (SELECT user_id, conv, n_ev, xor(p, p//1073741824) AS x1
      |  FROM kp),
      |k2 AS (SELECT user_id, conv, n_ev,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM k1),
      |k3 AS (SELECT user_id, conv, n_ev, xor(x2, x2//134217728) AS x3
      |  FROM k2),
      |k4 AS (SELECT user_id, conv, n_ev,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM k3),
      |k5 AS (SELECT user_id, conv, n_ev, xor(x4, x4//2147483648) AS x5
      |  FROM k4),
      |ks AS (SELECT conv, n_ev,
      |  CAST(CASE WHEN x5 >= 9223372036854775808::HUGEINT
      |       THEN x5 - 18446744073709551616::HUGEINT ELSE x5 END AS BIGINT)
      |    AS hv FROM k5),
      |ar AS (SELECT ((hv % 2) + 2) % 2 AS arm, conv, n_ev FROM ks)"""
      .stripMargin

  private def abTestOracleSql: String =
    ("WITH " + abArmSql + """,
      |ag AS (SELECT
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END) AS conv_a,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
      |    SUM(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END) AS conv_b
      |  FROM ar),
      |zz AS (SELECT n_a, conv_a, n_b, conv_b,
      |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
      |  FROM ag),
      |se AS (SELECT n_a, conv_a, n_b, conv_b,
      |    sqrt(pp * (1.0 - pp)
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |      AS sev
      |  FROM zz)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
      |  CASE WHEN n_a > 0
      |    THEN ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
      |  END AS rate_a,
      |  CASE WHEN n_b > 0
      |    THEN ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
      |  END AS rate_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND sev > 0.0
      |    THEN ROUND((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sev, 6)
      |  END AS z,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND sev > 0.0
      |    THEN abs((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sev) > 1.96
      |    ELSE FALSE
      |  END AS significant
      |FROM se""").stripMargin

  /** q230's oracle: the RR flip coin recomputed losslessly — poly31 over
    * `'rr|' || doc_id` (Java wrapping via HUGEINT mod 2^64) through the
    * splitmix64 finalizer, signed BIGINT, `mod 4 == 0`; then the exact
    * integer tally and the closed-form debias. */
  private def rrPrivateHistOracleSql: String =
    """WITH d AS (SELECT doc_id, source, lang = 'zh' AS s,
      |    'rr|' || CAST(doc_id AS VARCHAR) AS key FROM documents),
      |kp AS (SELECT doc_id,
      |    list_reduce(list_transform(string_split(key, ''),
      |        c -> ord(c)::HUGEINT),
      |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
      |  FROM d),
      |k1 AS (SELECT doc_id, xor(p, p//1073741824) AS x1 FROM kp),
      |k2 AS (SELECT doc_id,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM k1),
      |k3 AS (SELECT doc_id, xor(x2, x2//134217728) AS x3 FROM k2),
      |k4 AS (SELECT doc_id,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM k3),
      |k5 AS (SELECT doc_id, xor(x4, x4//2147483648) AS x5 FROM k4),
      |ks AS (SELECT doc_id,
      |  CAST(CASE WHEN x5 >= 9223372036854775808::HUGEINT
      |       THEN x5 - 18446744073709551616::HUGEINT ELSE x5 END AS BIGINT)
      |    AS hv FROM k5),
      |r AS (SELECT d.source, d.s, ((ks.hv % 4) + 4) % 4 = 0 AS flip
      |  FROM d JOIN ks ON ks.doc_id = d.doc_id),
      |a AS (SELECT source, COUNT(*) AS n_docs,
      |    SUM(CASE WHEN s THEN 1 ELSE 0 END) AS true_pos,
      |    SUM(CASE WHEN s <> flip THEN 1 ELSE 0 END) AS reported_pos
      |  FROM r GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(true_pos AS BIGINT) AS true_pos,
      |  CAST(reported_pos AS BIGINT) AS reported_pos,
      |  CAST(4*reported_pos - n_docs AS DOUBLE) / 2.0 AS est_pos,
      |  CAST(4*reported_pos - n_docs AS DOUBLE) / 2.0
      |    - CAST(true_pos AS DOUBLE) AS err
      |FROM a ORDER BY source""".stripMargin

  /** q226's oracle: the distinct customer→part purchase edges, then
    * `rounds` unrolled HITS half-round pairs of the exact integer
    * recurrence — raw score = edge-sum of the opposite side, then
    * renormalization `x DIV max(1, S DIV 1e12)` — identical arithmetic
    * to the engine at any partitioning. */
  private def hitsOracleSql: String = {
    // half-rounds MATERIALIZED: each score reads its raw sums twice
    // (values and L1 total) — inlined, the plan doubles per half-round
    val rounds = (1 to 4).map { i =>
      val ph = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT e.p, SUM(h.h) AS s
         |  FROM e JOIN $ph h ON e.c = h.c GROUP BY e.p),
         |at$i AS (SELECT SUM(s) AS t FROM ar$i),
         |a$i AS MATERIALIZED (SELECT p,
         |  s // GREATEST(1, t // 1000000000000) AS a
         |  FROM ar$i, at$i),
         |hr$i AS MATERIALIZED (SELECT e.c, SUM(a.a) AS s
         |  FROM e JOIN a$i a ON e.p = a.p GROUP BY e.c),
         |ht$i AS (SELECT SUM(s) AS t FROM hr$i),
         |h$i AS MATERIALIZED (SELECT c,
         |  s // GREATEST(1, t // 1000000000000) AS h
         |  FROM hr$i, ht$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |nc AS (SELECT COUNT(DISTINCT c) AS n FROM e),
       |h0 AS (SELECT DISTINCT c, 1000000000000 // nc.n AS h FROM e, nc),
       |$rounds,
       |od AS (SELECT c, COUNT(*) AS deg FROM e GROUP BY c),
       |ind AS (SELECT p, COUNT(*) AS deg FROM e GROUP BY p)
       |SELECT kind, id, CAST(score AS BIGINT) AS score,
       |  CAST(deg AS BIGINT) AS deg FROM (
       |  SELECT 'hub' AS kind, h4.c AS id, h4.h AS score, od.deg
       |  FROM h4 JOIN od ON od.c = h4.c
       |  UNION ALL
       |  SELECT 'auth' AS kind, a4.p AS id, a4.a AS score, ind.deg
       |  FROM a4 JOIN ind ON ind.p = a4.p)
       |ORDER BY kind, id""".stripMargin
  }

  /** q227's oracle: the q129 edge CTEs, then 4 unrolled min-plus
    * rounds — d'(v) = least(d(v), 1 + min over neighbors' d) with the
    * 999 sentinel keeping the recurrence total (999 + 1 cannot win a
    * least against any reachable distance ≤ rounds). */
  private def seedDistanceOracleSql: String = {
    val rounds = (1 to 4).map { i =>
      val pd = s"d${i - 1}"
      s"""c$i AS (SELECT ed.dst, MIN(p.d) + 1 AS cd
         |  FROM ed JOIN $pd p ON ed.src = p.doc_id GROUP BY ed.dst),
         |d$i AS (SELECT $pd.doc_id,
         |    LEAST($pd.d, COALESCE(c$i.cd, 1000)) AS d
         |  FROM $pd LEFT JOIN c$i ON c$i.dst = $pd.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM tk WHERE len(w) >= 3)),
       |p AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM g) WHERE df <= 50),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ed AS (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION ALL SELECT d2, d1 FROM pr),
       |d0 AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 0 ELSE 999 END AS d
       |  FROM documents),
       |$rounds
       |SELECT doc_id,
       |  CAST(CASE WHEN d >= 999 THEN -1 ELSE d END AS INTEGER) AS hops
       |FROM d4 ORDER BY doc_id""".stripMargin
  }

  /** q129's oracle: the shared-rare-trigram edge set (distinct doc-gram
    * postings, df ≤ 50, pairs sharing ≥ 3), then 5 unrolled iterations
    * of the exact integer recurrence
    * `r'(v) = (15·(S DIV n)) DIV 100 + Σ_{u→v} (85·(r(u) DIV deg u)) DIV 100`
    * with S = 1e12. Pure integer arithmetic — bit-identical to the
    * engine at any partitioning. */
  private def pagerankOracleSql: String = {
    val iter = (1 to 5).map { i =>
      val p = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT ed.dst, SUM((85 * (p.r // dg.deg)) // 100) AS m
         |  FROM ed JOIN $p p ON ed.src = p.doc_id
         |          JOIN dg ON dg.src = ed.src
         |  GROUP BY ed.dst),
         |r$i AS (SELECT d.doc_id,
         |    (15 * (1000000000000 // n.n)) // 100 + COALESCE(c$i.m, 0) AS r
         |  FROM documents d CROSS JOIN n
         |  LEFT JOIN c$i ON c$i.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM tk WHERE len(w) >= 3)),
       |p AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM g) WHERE df <= 50),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ed AS (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION ALL SELECT d2, d1 FROM pr),
       |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |n AS (SELECT count(*) AS n FROM documents),
       |r0 AS (SELECT doc_id, 1000000000000 // n AS r FROM documents, n),
       |$iter
       |SELECT r5.doc_id, CAST(r5.r AS BIGINT) AS pagerank,
       |  CAST(COALESCE(dg.deg, 0) AS INTEGER) AS n_links
       |FROM r5 LEFT JOIN dg ON dg.src = r5.doc_id
       |ORDER BY r5.doc_id""".stripMargin
  }

  /** q163's oracle: the same shared-rare-trigram edge CTEs as q129's
    * oracle, then 10 unrolled peel rounds — a_i = members of a_{i-1}
    * with ≥ 2 neighbors inside a_{i-1} — and the final in-core degree.
    * Fixed round count on both sides makes the match exact whether or
    * not the fixpoint lands inside the budget. */
  private def kcoreOracleSql: String = {
    val peels = (1 to 10).map { i =>
      val prev = s"a${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT e.src, COUNT(*) AS deg FROM ed e
         |  JOIN $prev x ON e.src = x.doc_id
         |  JOIN $prev y ON e.dst = y.doc_id
         |  GROUP BY e.src),
         |a$i AS MATERIALIZED (SELECT src AS doc_id FROM d$i WHERE deg >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM tk WHERE len(w) >= 3)),
       |p AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM g) WHERE df <= 50),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION ALL SELECT d2, d1 FROM pr),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM ed),
       |$peels,
       |fd AS (SELECT e.src, COUNT(*) AS deg FROM ed e
       |  JOIN a10 x ON e.src = x.doc_id
       |  JOIN a10 y ON e.dst = y.doc_id
       |  GROUP BY e.src)
       |SELECT a10.doc_id, CAST(COALESCE(fd.deg, 0) AS INTEGER) AS core_deg
       |FROM a10 LEFT JOIN fd ON fd.src = a10.doc_id
       |ORDER BY a10.doc_id""".stripMargin
  }

  /** q202's oracle: the same shared-rare-trigram edge CTEs as q129's
    * oracle, then 5 unrolled synchronous label-propagation rounds —
    * per (dst, label) vote counts, arg-max via the identical integer
    * `cnt·B + (B−1−label)` encoding (B = 10^10), decode, repeat — and
    * the final community-size join. Pure integer arithmetic: bit-equal
    * to the engine at any partitioning. */
  private def lpaOracleSql: String = {
    val b = 10000000000L
    val roundsSql = (1 to 5).map { i =>
      val prev = s"l${i - 1}"
      s"""v$i AS (SELECT e.dst, p.label, COUNT(*) AS cnt
         |  FROM ed e JOIN $prev p ON e.src = p.doc_id
         |  GROUP BY e.dst, p.label),
         |l$i AS MATERIALIZED (SELECT dst AS doc_id,
         |    (${b - 1} - (MAX(cnt * $b + (${b - 1} - label)) % $b)) AS label
         |  FROM v$i GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM tk WHERE len(w) >= 3)),
       |p AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM g) WHERE df <= 50),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION ALL SELECT d2, d1 FROM pr),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS label
       |  FROM ed),
       |$roundsSql,
       |cs AS (SELECT label AS community, COUNT(*) AS csize
       |  FROM l5 GROUP BY label)
       |SELECT l5.doc_id, CAST(l5.label AS BIGINT) AS community,
       |  CAST(cs.csize AS BIGINT) AS csize
       |FROM l5 JOIN cs ON cs.community = l5.label
       |ORDER BY l5.doc_id""".stripMargin
  }

  /** q204's oracle: Gonzalez farthest-point traversal unrolled as 7
    * chained argmax CTEs. The squared-L2 fold is `list_reduce` — DuckDB's
    * strict left fold, bit-identical to the engine's `aggregate()` HOF
    * over the same doubles — so arg-max choices (and their vec_id
    * tie-breaks) replay exactly; the output carries no floats. */
  private def kcenterOracleSql: String = {
    def fold(m: String, s: String): String =
      s"""list_reduce(list_transform(range(1, 65),
         |      j -> (CAST($m.embedding[j] AS DOUBLE)
         |              - CAST($s.embedding[j] AS DOUBLE))
         |         * (CAST($m.embedding[j] AS DOUBLE)
         |              - CAST($s.embedding[j] AS DOUBLE))),
         |    (acc, x) -> acc + x)""".stripMargin
    val rounds = (1 to 7).map { i =>
      val pick =
        s"""s$i AS MATERIALIZED (SELECT vec_id, label, embedding
           |  FROM m${i - 1} ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
      if (i == 7) pick // the last pick needs no distance update
      else pick + ",\n" +
        s"""m$i AS MATERIALIZED (SELECT m.vec_id, m.label, m.embedding,
           |    LEAST(m.md, ${fold("m", "s")}) AS md
           |  FROM m${i - 1} m CROSS JOIN s$i s)""".stripMargin
    }.mkString(",\n")
    val out = (0 to 7).map { i =>
      s"SELECT CAST($i AS INTEGER) AS sel_round, vec_id, label FROM s$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH s0 AS MATERIALIZED (SELECT vec_id, label, embedding
       |  FROM embeddings ORDER BY vec_id LIMIT 1),
       |m0 AS MATERIALIZED (SELECT a.vec_id, a.label, a.embedding,
       |    ${fold("a", "s")} AS md
       |  FROM embeddings a CROSS JOIN s0 s),
       |$rounds
       |SELECT * FROM (
       |  $out)
       |ORDER BY sel_round""".stripMargin
  }

  /** q218's oracle: the two-stage incremental LPA replayed from scratch
    * (the q160 convention — the engine's Δ-graph is spec-proven equal
    * to the full rebuild, so the oracle builds the base and full graphs
    * directly): base graph → `5` base rounds → warm start over the full
    * graph (standing label where one exists, self otherwise) → `3`
    * incremental rounds → community sizes + the is_batch flag. The same
    * integer cnt·B + (B−1−label) arg-max throughout. */
  private def incrLpaOracleSql: String = {
    val b = 10000000000L
    def rounds(edge: String, prefix: String, from: String, n: Int): String =
      (1 to n).map { i =>
        val prev = if (i == 1) from else s"$prefix${i - 1}"
        s"""${prefix}v$i AS (SELECT e.dst, p.label, COUNT(*) AS cnt
           |  FROM $edge e JOIN $prev p ON e.src = p.doc_id
           |  GROUP BY e.dst, p.label),
           |$prefix$i AS MATERIALIZED (SELECT dst AS doc_id,
           |    (${b - 1} - (MAX(cnt * $b + (${b - 1} - label)) % $b))
           |      AS label
           |  FROM ${prefix}v$i GROUP BY dst)""".stripMargin
      }.mkString(",\n")
    s"""WITH bdocs AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 10 < 7),
       |btk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM bdocs),
       |bg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM btk WHERE len(w) >= 3)),
       |bp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM bg) WHERE df <= 50),
       |bpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bp a JOIN bp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |bed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM bpr
       |  UNION ALL SELECT d2, d1 FROM bpr),
       |bl0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS label
       |  FROM bed),
       |${rounds("bed", "bl", "bl0", 5)},
       |ftk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |fg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM ftk WHERE len(w) >= 3)),
       |fp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM fg) WHERE df <= 50),
       |fpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM fp a JOIN fp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |fed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM fpr
       |  UNION ALL SELECT d2, d1 FROM fpr),
       |w0 AS MATERIALIZED (SELECT v.doc_id,
       |    COALESCE(bl5.label, v.doc_id) AS label
       |  FROM (SELECT DISTINCT src AS doc_id FROM fed) v
       |  LEFT JOIN bl5 ON bl5.doc_id = v.doc_id),
       |${rounds("fed", "w", "w0", 3)},
       |cs AS (SELECT label AS community, COUNT(*) AS csize
       |  FROM w3 GROUP BY label)
       |SELECT w3.doc_id, CAST(w3.label AS BIGINT) AS community,
       |  CAST(cs.csize AS BIGINT) AS csize,
       |  (w3.doc_id % 10 >= 7) AS is_batch
       |FROM w3 JOIN cs ON cs.community = w3.label
       |ORDER BY w3.doc_id""".stripMargin
  }

  /** q225's oracle: the cross-state erasure certificate recomputed from
    * the corpus — fp-store holder arithmetic, band rows as 32 per
    * eligible doc, the maxDf=3 graph pair sets before/after erasure
    * (added pairs by NOT EXISTS), and IVF-PQ rows as m=8 per
    * nonzero-norm vector. Residual metrics are the zero invariants the
    * engine-side checks must land on. */
  /** q251's oracle: q74's BM25 machinery per SINGLE-term query, graded
    * tf relevance, DCG/IDCG as 8dp-DECIMAL sums of
    * gain/(ln(rank+1)/ln 2) terms with the gain spelled as the same
    * bounded CASE, ndcg/rr rounded to 6 dp. */
  private def retrievalEvalOracleSql: String =
    """WITH tf AS (
      |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS w
      |    FROM documents) GROUP BY doc_id, w),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |qt AS (SELECT * FROM tf WHERE term IN
      |  ('scan', 'merge', 'sort', 'filter', 'vector', 'hash')),
      |df AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY term),
      |sc AS (
      |  SELECT qt.term, qt.doc_id,
      |    ROUND(
      |      ln(1.0 + (CAST(stats.n_docs AS DOUBLE)
      |                - CAST(df.df AS DOUBLE) + 0.5)
      |               / (CAST(df.df AS DOUBLE) + 0.5))
      |      * ((CAST(qt.tf AS DOUBLE) * (1.2 + 1.0))
      |         / (CAST(qt.tf AS DOUBLE)
      |            + 1.2 * (1.0 - 0.75
      |                     + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))),
      |      6) AS score,
      |    CASE WHEN qt.tf >= 6 THEN 3 WHEN qt.tf >= 4 THEN 2
      |         WHEN qt.tf >= 2 THEN 1 ELSE 0 END AS rel
      |  FROM qt JOIN df USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN stats),
      |gain AS (SELECT term, doc_id, score, rel,
      |    CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END
      |      AS g
      |  FROM sc),
      |got AS (SELECT term, g, rel,
      |    ROW_NUMBER() OVER (PARTITION BY term
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM gain),
      |idl AS (SELECT term, g, rel,
      |    ROW_NUMBER() OVER (PARTITION BY term
      |      ORDER BY rel DESC, doc_id) AS rank
      |  FROM gain),
      |dcg AS (SELECT term,
      |    SUM(CAST(ROUND(CAST(g AS DOUBLE)
      |      / (ln(CAST(rank + 1 AS DOUBLE)) / 0.6931471805599453), 8)
      |      AS DECIMAL(18,8))) AS dcg8,
      |    MIN(CASE WHEN rel >= 1 THEN rank END) AS first_rel
      |  FROM got WHERE rank <= 10 GROUP BY term),
      |idcg AS (SELECT term,
      |    SUM(CASE WHEN rel > 0 THEN CAST(ROUND(CAST(g AS DOUBLE)
      |      / (ln(CAST(rank + 1 AS DOUBLE)) / 0.6931471805599453), 8)
      |      AS DECIMAL(18,8)) END) AS idcg8
      |  FROM idl WHERE rank <= 10 GROUP BY term),
      |nr AS (SELECT term, SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
      |    AS n_rel FROM sc GROUP BY term)
      |SELECT term, CAST(n_rel AS BIGINT) AS n_rel,
      |  CASE WHEN idcg8 > 0
      |    THEN ROUND(CAST(dcg8 AS DOUBLE) / CAST(idcg8 AS DOUBLE), 6)
      |    ELSE 0.0 END AS ndcg10,
      |  CASE WHEN first_rel IS NOT NULL
      |    THEN ROUND(1.0 / CAST(first_rel AS DOUBLE), 6)
      |    ELSE 0.0 END AS rr10
      |FROM dcg JOIN idcg USING (term) JOIN nr USING (term)
      |ORDER BY term""".stripMargin

  /** q248's oracle — the INDEPENDENT monolithic form: pair counts with
    * the erased-customer decrement folded in (co0 carries co + dec per
    * pair), the post-erasure admitted set rebuilt from scratch
    * (surviving capped baskets + room-capped novel admission), and the
    * ledger as a full-outer merge filtered to touched pairs — vs the
    * engine's request-scale decrement + q244 ingest legs. */
  private def eraseCfOracleSql: String =
    """WITH eb AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey % 10 < 7),
      |cb AS (SELECT c, p FROM (SELECT c, p,
      |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM eb)
      |  WHERE rn <= 256),
      |co0 AS (SELECT a.p AS p1, b.p AS p2, COUNT(*) AS co,
      |    SUM(CASE WHEN a.c % 10 = 0 THEN 1 ELSE 0 END) AS dec
      |  FROM cb a JOIN cb b ON a.c = b.c AND a.p < b.p GROUP BY 1, 2),
      |sb AS (SELECT c, p FROM cb WHERE c % 10 <> 0),
      |sz AS (SELECT c, COUNT(*) AS nb FROM sb GROUP BY c),
      |eg AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey % 10 >= 7),
      |nv0 AS (SELECT c, p FROM eg EXCEPT SELECT c, p FROM sb),
      |nv AS (SELECT c, p FROM (SELECT nv0.c, nv0.p,
      |    ROW_NUMBER() OVER (PARTITION BY nv0.c ORDER BY nv0.p) AS rn,
      |    COALESCE(sz.nb, 0) AS nb
      |  FROM nv0 LEFT JOIN sz ON sz.c = nv0.c)
      |  WHERE rn <= 256 - nb),
      |adm AS (SELECT c, p FROM sb UNION ALL SELECT c, p FROM nv),
      |pf AS (SELECT a.c, a.p AS p1, b.p AS p2
      |  FROM adm a JOIN adm b ON a.c = b.c AND a.p < b.p),
      |ca AS (SELECT p1, p2, COUNT(*) AS co_after,
      |    SUM(CASE WHEN n1.p IS NOT NULL OR n2.p IS NOT NULL
      |      THEN 1 ELSE 0 END) AS delta
      |  FROM pf
      |  LEFT JOIN nv n1 ON n1.c = pf.c AND n1.p = pf.p1
      |  LEFT JOIN nv n2 ON n2.c = pf.c AND n2.p = pf.p2
      |  GROUP BY 1, 2),
      |led AS (SELECT COALESCE(c0.p1, ca.p1) AS p1,
      |    COALESCE(c0.p2, ca.p2) AS p2,
      |    COALESCE(c0.co, 0) AS co_before,
      |    COALESCE(c0.co, 0) - COALESCE(c0.dec, 0) AS co_erased,
      |    COALESCE(ca.delta, 0) AS delta_ingest,
      |    COALESCE(ca.co_after,
      |      COALESCE(c0.co, 0) - COALESCE(c0.dec, 0)) AS co_after
      |  FROM co0 c0 FULL OUTER JOIN ca
      |    ON c0.p1 = ca.p1 AND c0.p2 = ca.p2)
      |SELECT p1, p2, CAST(co_before AS BIGINT) AS co_before,
      |  CAST(co_erased AS BIGINT) AS co_erased,
      |  CAST(delta_ingest AS BIGINT) AS delta_ingest,
      |  CAST(co_after AS BIGINT) AS co_after
      |FROM led WHERE delta_ingest > 0 OR co_before <> co_erased
      |ORDER BY p1, p2""".stripMargin

  private def erasureCertificateOracleSql: String =
    """WITH w AS (SELECT DISTINCT doc_id, word FROM (
      |    SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
      |    FROM documents) WHERE word <> ''),
      |f AS (SELECT doc_id, md5(array_to_string(list_sort(list(word)), ' ')) AS fp
      |  FROM w GROUP BY doc_id),
      |led AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 < 7),
      |h AS (SELECT fp,
      |    SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS gone,
      |    SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS kept
      |  FROM led GROUP BY fp),
      |tkl AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS tk FROM documents),
      |b3 AS (SELECT doc_id FROM tkl WHERE len(tk) >= 3 AND doc_id % 10 < 7),
      |bg AS (SELECT DISTINCT doc_id, gram FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
      |  FROM tkl WHERE len(tk) >= 3 AND doc_id % 10 < 7)),
      |bp AS (SELECT doc_id, gram FROM (
      |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |  FROM bg) WHERE df <= 3),
      |bpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bp a JOIN bp b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |sg AS (SELECT doc_id, gram FROM bg WHERE doc_id % 7 <> 0),
      |sp AS (SELECT doc_id, gram FROM (
      |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |  FROM sg) WHERE df <= 3),
      |spr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sp a JOIN sp b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |ngrams AS (SELECT count(*) AS n FROM
      |  (SELECT gram, count(*) AS post FROM sg GROUP BY gram) q
      |  JOIN (SELECT gram, count(*) AS pre FROM bg GROUP BY gram) p
      |    USING (gram)
      |  WHERE pre > 3 AND post <= 3),
      |ev AS (SELECT vec_id FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
      |    AND vec_id % 10 < 7),
      |cfe AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderkey % 10 < 7),
      |cfb AS (SELECT c, p FROM (SELECT c, p,
      |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rn FROM cfe)
      |  WHERE rn <= 256),
      |cfc AS (SELECT a.p AS p1, b.p AS p2, COUNT(*) AS co,
      |    SUM(CASE WHEN a.c % 10 = 0 THEN 1 ELSE 0 END) AS dec
      |  FROM cfb a JOIN cfb b ON a.c = b.c AND a.p < b.p GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT 'fp_store' AS state, 'rows_before' AS metric,
      |    CAST(COUNT(*) AS BIGINT) AS value FROM led
      |  UNION ALL SELECT 'fp_store', 'rows_removed',
      |    CAST(COUNT(*) AS BIGINT) FROM led WHERE doc_id % 10 = 0
      |  UNION ALL SELECT 'fp_store', 'rows_after',
      |    CAST(COUNT(*) AS BIGINT) FROM led WHERE doc_id % 10 <> 0
      |  UNION ALL SELECT 'fp_store', 'fps_forgotten',
      |    CAST(COUNT(*) AS BIGINT) FROM h WHERE gone > 0 AND kept = 0
      |  UNION ALL SELECT 'fp_store', 'fps_retained_shared',
      |    CAST(COUNT(*) AS BIGINT) FROM h WHERE gone > 0 AND kept > 0
      |  UNION ALL SELECT 'fp_store', 'residual_subject_rows', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'band_index', 'rows_before',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3
      |  UNION ALL SELECT 'band_index', 'rows_removed',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3 WHERE doc_id % 10 = 0
      |  UNION ALL SELECT 'band_index', 'rows_after',
      |    CAST(32 * COUNT(*) AS BIGINT) FROM b3 WHERE doc_id % 10 <> 0
      |  UNION ALL SELECT 'band_index', 'residual_subject_rows', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'graph', 'pairs_before',
      |    CAST(COUNT(*) AS BIGINT) FROM bpr
      |  UNION ALL SELECT 'graph', 'pairs_dropped_endpoint',
      |    CAST(COUNT(*) AS BIGINT) FROM bpr
      |    WHERE d1 % 7 = 0 OR d2 % 7 = 0
      |  UNION ALL SELECT 'graph', 'pairs_added_reeligible',
      |    CAST(COUNT(*) AS BIGINT) FROM spr s
      |    WHERE NOT EXISTS (SELECT 1 FROM bpr b
      |      WHERE b.d1 = s.d1 AND b.d2 = s.d2)
      |  UNION ALL SELECT 'graph', 'pairs_after',
      |    CAST(COUNT(*) AS BIGINT) FROM spr
      |  UNION ALL SELECT 'graph', 'newly_eligible_grams',
      |    CAST(n AS BIGINT) FROM ngrams
      |  UNION ALL SELECT 'graph', 'residual_subject_rows', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'cf_state', 'edges_before',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb
      |  UNION ALL SELECT 'cf_state', 'edges_removed',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb WHERE c % 10 = 0
      |  UNION ALL SELECT 'cf_state', 'edges_after',
      |    CAST(COUNT(*) AS BIGINT) FROM cfb WHERE c % 10 <> 0
      |  UNION ALL SELECT 'cf_state', 'pairs_before',
      |    CAST(COUNT(*) AS BIGINT) FROM cfc
      |  UNION ALL SELECT 'cf_state', 'pairs_gone',
      |    CAST(COUNT(*) AS BIGINT) FROM cfc WHERE dec = co
      |  UNION ALL SELECT 'cf_state', 'pairs_decremented',
      |    CAST(COUNT(*) AS BIGINT) FROM cfc WHERE dec > 0 AND dec < co
      |  UNION ALL SELECT 'cf_state', 'pairs_after',
      |    CAST(COUNT(*) AS BIGINT) FROM cfc WHERE dec < co
      |  UNION ALL SELECT 'cf_state', 'residual_subject_rows',
      |    CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_before',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_removed',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev WHERE vec_id % 10 = 0
      |  UNION ALL SELECT 'ivfpq_codes', 'rows_after',
      |    CAST(8 * COUNT(*) AS BIGINT) FROM ev WHERE vec_id % 10 <> 0
      |  UNION ALL SELECT 'ivfpq_codes', 'residual_subject_rows',
      |    CAST(0 AS BIGINT))
      |ORDER BY state, metric""".stripMargin

  /** q223's oracle: the erase-then-ingest LPA replayed from scratch —
    * base graph over the ORIGINAL standing corpus at q223's tightened
    * maxDf=3 (the fixture's trigram df spectrum tops out at 6, so the
    * re-eligibility path needs the cap inside it) → 5 base rounds →
    * warm start over the SURVIVING corpus's full graph (erased ids ≡ 0
    * mod 7 inside the base slice; a survivor whose standing label IS an
    * erased doc relabels to self) → 3 incremental rounds. The engine's
    * request-scale erasure Δ (Erasure.eraseStandingPairs) is spec-proven
    * equal to the from-scratch build this SQL performs. */
  private def eraseLpaOracleSql: String = {
    val b = 10000000000L
    def rounds(edge: String, prefix: String, from: String, n: Int): String =
      (1 to n).map { i =>
        val prev = if (i == 1) from else s"$prefix${i - 1}"
        s"""${prefix}v$i AS (SELECT e.dst, p.label, COUNT(*) AS cnt
           |  FROM $edge e JOIN $prev p ON e.src = p.doc_id
           |  GROUP BY e.dst, p.label),
           |$prefix$i AS MATERIALIZED (SELECT dst AS doc_id,
           |    (${b - 1} - (MAX(cnt * $b + (${b - 1} - label)) % $b))
           |      AS label
           |  FROM ${prefix}v$i GROUP BY dst)""".stripMargin
      }.mkString(",\n")
    s"""WITH bdocs AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 10 < 7),
       |btk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM bdocs),
       |bg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM btk WHERE len(w) >= 3)),
       |bp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM bg) WHERE df <= 3),
       |bpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bp a JOIN bp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |bed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM bpr
       |  UNION ALL SELECT d2, d1 FROM bpr),
       |bl0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS label
       |  FROM bed),
       |${rounds("bed", "bl", "bl0", 5)},
       |sdocs AS (SELECT doc_id, text FROM documents
       |  WHERE NOT (doc_id % 10 < 7 AND doc_id % 7 = 0)),
       |ftk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM sdocs),
       |fg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM ftk WHERE len(w) >= 3)),
       |fp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM fg) WHERE df <= 3),
       |fpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM fp a JOIN fp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |fed AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM fpr
       |  UNION ALL SELECT d2, d1 FROM fpr),
       |w0 AS MATERIALIZED (SELECT v.doc_id,
       |    CASE WHEN bl5.label IS NULL THEN v.doc_id
       |         WHEN bl5.label % 10 < 7 AND bl5.label % 7 = 0
       |           THEN v.doc_id
       |         ELSE bl5.label END AS label
       |  FROM (SELECT DISTINCT src AS doc_id FROM fed) v
       |  LEFT JOIN bl5 ON bl5.doc_id = v.doc_id),
       |${rounds("fed", "w", "w0", 3)},
       |cs AS (SELECT label AS community, COUNT(*) AS csize
       |  FROM w3 GROUP BY label)
       |SELECT w3.doc_id, CAST(w3.label AS BIGINT) AS community,
       |  CAST(cs.csize AS BIGINT) AS csize,
       |  (w3.doc_id % 10 >= 7) AS is_batch
       |FROM w3 JOIN cs ON cs.community = w3.label
       |ORDER BY w3.doc_id""".stripMargin
  }

  /** q160's oracle: the incremental run replayed FROM SCRATCH — the
    * engine's batch-scale Δ-graph is spec-proven equal to the full
    * rebuild (IncrementalPageRankSpec), so the oracle builds the base
    * graph (doc_id % 10 < 7) and the full graph directly, runs the
    * q129 integer recurrence 5 rounds on the base slice, warm-starts
    * the full vector from it (batch docs at the uniform share), and
    * runs 3 more rounds. Pure integer arithmetic throughout. */
  private def incrPagerankOracleSql: String = {
    val baseIter = (1 to 5).map { i =>
      val p = if (i == 1) "b0" else s"b${i - 1}"
      s"""bc$i AS (SELECT bed.dst, SUM((85 * (p.r // bdg.deg)) // 100) AS m
         |  FROM bed JOIN $p p ON bed.src = p.doc_id
         |          JOIN bdg ON bdg.src = bed.src
         |  GROUP BY bed.dst),
         |b$i AS (SELECT d.doc_id,
         |    (15 * (1000000000000 // nb.n)) // 100 + COALESCE(bc$i.m, 0) AS r
         |  FROM bdocs d CROSS JOIN nb
         |  LEFT JOIN bc$i ON bc$i.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    val fullIter = (1 to 3).map { i =>
      val p = if (i == 1) "w0" else s"w${i - 1}"
      s"""fc$i AS (SELECT fed.dst, SUM((85 * (p.r // fdg.deg)) // 100) AS m
         |  FROM fed JOIN $p p ON fed.src = p.doc_id
         |          JOIN fdg ON fdg.src = fed.src
         |  GROUP BY fed.dst),
         |w$i AS (SELECT d.doc_id,
         |    (15 * (1000000000000 // nf.n)) // 100 + COALESCE(fc$i.m, 0) AS r
         |  FROM documents d CROSS JOIN nf
         |  LEFT JOIN fc$i ON fc$i.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7),
       |btk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM bdocs),
       |bg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM btk WHERE len(w) >= 3)),
       |bp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM bg) WHERE df <= 50),
       |bpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bp a JOIN bp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |bed AS (SELECT d1 AS src, d2 AS dst FROM bpr
       |  UNION ALL SELECT d2, d1 FROM bpr),
       |bdg AS (SELECT src, count(*) AS deg FROM bed GROUP BY src),
       |nb AS (SELECT count(*) AS n FROM bdocs),
       |b0 AS (SELECT doc_id, 1000000000000 // n AS r FROM bdocs, nb),
       |$baseIter,
       |ftk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |fg AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM ftk WHERE len(w) >= 3)),
       |fp AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM fg) WHERE df <= 50),
       |fpr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM fp a JOIN fp b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |fed AS (SELECT d1 AS src, d2 AS dst FROM fpr
       |  UNION ALL SELECT d2, d1 FROM fpr),
       |fdg AS (SELECT src, count(*) AS deg FROM fed GROUP BY src),
       |nf AS (SELECT count(*) AS n FROM documents),
       |w0 AS (SELECT d.doc_id, COALESCE(b5.r, 1000000000000 // nf.n) AS r
       |  FROM documents d CROSS JOIN nf
       |  LEFT JOIN b5 ON b5.doc_id = d.doc_id),
       |$fullIter
       |SELECT w3.doc_id, CAST(w3.r AS BIGINT) AS pagerank,
       |  CAST(COALESCE(fdg.deg, 0) AS INTEGER) AS n_links,
       |  (w3.doc_id % 10 >= 7) AS is_batch
       |FROM w3 LEFT JOIN fdg ON fdg.src = w3.doc_id
       |ORDER BY w3.doc_id""".stripMargin
  }

  /** q153's oracle: the q129 integer recurrence with the teleport vector
    * restricted to the seed source — r0 and the base term are nonzero
    * only where source = 'src0'; 5 unrolled iterations, zero-trust rows
    * filtered at the end. */
  private def trustrankOracleSql: String = {
    val iter = (1 to 5).map { i =>
      val p = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT ed.dst, SUM((85 * (p.r // dg.deg)) // 100) AS m
         |  FROM ed JOIN $p p ON ed.src = p.doc_id
         |          JOIN dg ON dg.src = ed.src
         |  GROUP BY ed.dst),
         |r$i AS (SELECT d.doc_id,
         |    (CASE WHEN d.source = 'src0'
         |          THEN (15 * (1000000000000 // s.ns)) // 100 ELSE 0 END)
         |      + COALESCE(c$i.m, 0) AS r
         |  FROM documents d CROSS JOIN s
         |  LEFT JOIN c$i ON c$i.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
       |  FROM tk WHERE len(w) >= 3)),
       |p AS (SELECT doc_id, gram FROM (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
       |  FROM g) WHERE df <= 50),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |ed AS (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION ALL SELECT d2, d1 FROM pr),
       |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |s AS (SELECT count(*) AS ns FROM documents WHERE source = 'src0'),
       |r0 AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1000000000000 // s.ns
       |         ELSE 0 END AS r
       |  FROM documents, s),
       |$iter
       |SELECT r5.doc_id, d.source = 'src0' AS seed,
       |  CAST(r5.r AS BIGINT) AS trust
       |FROM r5 JOIN documents d ON d.doc_id = r5.doc_id
       |WHERE r5.r > 0
       |ORDER BY r5.doc_id""".stripMargin
  }

  /** Shared oracle prelude for the q126/q127 classifier kernel: per
    * token occurrence, the portable poly31+splitmix64 hash (the exact
    * [[graft.functions.TokenHashExpr]] arithmetic, emulated in HUGEINT —
    * see the winnowFpSql note), reduced pmod 4096 to a feature bucket,
    * re-hashed (domain-separated 'w#' prefix) pmod 2001 − 1000 to the
    * synthetic weight, then summed per document. Ends with
    * `sc(doc_id, n_toks, score_sum)`. */
  /** q239/q240's evaluation join as a CTE fragment: every document's
    * q126 score (COALESCE 0 for token-less docs — the q126 LEFT JOIN
    * convention) next to the q147 per-doc rule-gate bit, plus the fixed
    * 50-unit score bin (clamped non-negative BEFORE the division).
    * Expects `sc` from [[classifierScoreSql]] in scope. */
  private def scoreVsGateSql: String =
    """gt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |gs AS (SELECT doc_id, len(ws) AS n,
      |    len(list_distinct(ws)) AS nd,
      |    list_sum(list_transform(ws, w -> len(w))) AS chars,
      |    len(list_filter(list_distinct(ws),
      |      u -> u IN ('the', 'and', 'of', 'to', 'in', 'is', 'a'))) AS stops,
      |    list_max(list_transform(list_distinct(ws),
      |      u -> len(list_filter(ws, x -> x = u)))) AS maxf
      |  FROM gt),
      |sg AS (SELECT COALESCE(s.score_sum, 0) AS score_sum,
      |    (g.n BETWEEN 20 AND 80 AND g.chars >= g.n * 4
      |     AND g.chars <= g.n * 10 AND g.stops >= 2
      |     AND g.nd * 10 >= g.n * 3 AND g.maxf * 5 <= g.n) AS pass,
      |    GREATEST(0, LEAST(40000, COALESCE(s.score_sum, 0) + 20000)) // 50
      |      AS bin
      |  FROM documents d
      |  LEFT JOIN sc s ON s.doc_id = d.doc_id
      |  JOIN gs g ON g.doc_id = d.doc_id)""".stripMargin

  private def classifierScoreSql: String = {
    def chain(pfx: String, src: String, inExpr: String): String =
      s"""${pfx}p AS (SELECT doc_id,
         |    list_reduce(list_transform(string_split($inExpr, ''),
         |        c -> ord(c)::HUGEINT),
         |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
         |  FROM $src),
         |${pfx}1 AS (SELECT doc_id, xor(p, p//1073741824) AS x1 FROM ${pfx}p),
         |${pfx}2 AS (SELECT doc_id,
         |  ((x1%4294967296)*13787848793156543929::HUGEINT
         |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
         |     *4294967296)
         |   % 18446744073709551616::HUGEINT AS x2 FROM ${pfx}1),
         |${pfx}3 AS (SELECT doc_id, xor(x2, x2//134217728) AS x3 FROM ${pfx}2),
         |${pfx}4 AS (SELECT doc_id,
         |  ((x3%4294967296)*10723151780598845931::HUGEINT
         |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
         |     *4294967296)
         |   % 18446744073709551616::HUGEINT AS x4 FROM ${pfx}3),
         |${pfx}5 AS (SELECT doc_id, xor(x4, x4//2147483648) AS x5 FROM ${pfx}4),
         |${pfx}s AS (SELECT doc_id,
         |  CAST(CASE WHEN x5 >= 9223372036854775808::HUGEINT
         |       THEN x5 - 18446744073709551616::HUGEINT ELSE x5 END AS BIGINT)
         |    AS hv FROM ${pfx}5)""".stripMargin
    s"""WITH tk AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                       x -> x <> '')) AS word FROM documents),
       |${chain("th", "tk", "word")},
       |bw AS (SELECT doc_id,
       |    'w#' || CAST(((hv % 4096) + 4096) % 4096 AS VARCHAR) AS wkey
       |  FROM ths),
       |${chain("wh", "bw", "wkey")},
       |wg AS (SELECT doc_id,
       |    ((hv % 2001) + 2001) % 2001 - 1000 AS w FROM whs),
       |sc AS (SELECT doc_id, COUNT(*) AS n_toks, SUM(w) AS score_sum
       |  FROM wg GROUP BY doc_id)""".stripMargin
  }

  /** q30's oracle (round 8): the portable token hash (poly31 over the
    * word's chars, Java-wrapping, + splitmix64 — TokenHashExpr) is
    * recomputed losslessly in DuckDB (list_reduce for the variable-length
    * polynomial, then the winnowFpSql HUGEINT splitmix chain); the 64
    * SimHash bit-counters are 64 conditional SUMs per doc (built
    * programmatically below), and the pair stage is ALL-PAIRS hamming ≤ 3
    * — valid because the engine's 16-bit-block blocking is spec-proven
    * pigeonhole-COMPLETE at that threshold (DedupSpec), so blocked
    * candidates ≡ all-pairs. */
  private def simhashOracleSql: String = {
    val bitTerms = (0 until 64).map { b =>
      val pow = java.math.BigInteger.ONE.shiftLeft(b)
      s"CASE WHEN SUM(CASE WHEN (x5 // $pow::HUGEINT) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) > 0 THEN $pow::HUGEINT ELSE 0::HUGEINT END"
    }.mkString("\n    + ")
    s"""WITH tk AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                       x -> x <> '')) AS word FROM documents),
       |hp AS (SELECT doc_id,
       |    list_reduce(list_transform(string_split(word, ''),
       |        c -> ord(c)::HUGEINT),
       |      (a, b) -> (a*31 + b) % 18446744073709551616::HUGEINT) AS p
       |  FROM tk),
       |h1 AS (SELECT doc_id, xor(p, p//1073741824) AS x1 FROM hp),
       |h2 AS (SELECT doc_id,
       |  ((x1%4294967296)*13787848793156543929::HUGEINT
       |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
       |     *4294967296)
       |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
       |h3 AS (SELECT doc_id, xor(x2, x2//134217728) AS x3 FROM h2),
       |h4 AS (SELECT doc_id,
       |  ((x3%4294967296)*10723151780598845931::HUGEINT
       |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
       |     *4294967296)
       |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
       |h5 AS (SELECT doc_id, xor(x4, x4//2147483648) AS x5 FROM h4),
       |bits AS (SELECT doc_id, $bitTerms AS s FROM h5 GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |       THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
       |    AS simhash FROM bits)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  /** Shared oracle prelude: winnowed fingerprints (k=5, w=4) per document,
    * docfreq-capped at 20 — the exact DuckDB recomputation of
    * [[graft.functions.WinnowFpExpr]] over lower(text). Kept as one WITH
    * chain so q65 (containment pairs) and q80 (passage-dedup keeper
    * accounting) stay verbatim-consistent. */
  private val winnowFpSql: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, lower(text) AS s FROM documents),
      |pos AS (SELECT doc_id, s, unnest(range(0, length(s)-5+1)) AS i
      |  FROM d WHERE length(s) >= 8),
      |g AS (SELECT doc_id, i,
      |  ((((ord(substr(s,CAST(i+1 AS INT),1))*31
      |      + ord(substr(s,CAST(i+2 AS INT),1)))*31
      |      + ord(substr(s,CAST(i+3 AS INT),1)))*31
      |      + ord(substr(s,CAST(i+4 AS INT),1)))*31
      |      + ord(substr(s,CAST(i+5 AS INT),1)))::HUGEINT AS p FROM pos),
      |h1 AS (SELECT doc_id, i, xor(p, p//1073741824) AS x1 FROM g),
      |h2 AS (SELECT doc_id, i,
      |  ((x1%4294967296)*13787848793156543929::HUGEINT
      |   + ((x1//4294967296)*13787848793156543929::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x2 FROM h1),
      |h3 AS (SELECT doc_id, i, xor(x2, x2//134217728) AS x3 FROM h2),
      |h4 AS (SELECT doc_id, i,
      |  ((x3%4294967296)*10723151780598845931::HUGEINT
      |   + ((x3//4294967296)*10723151780598845931::HUGEINT % 4294967296)
      |     *4294967296)
      |   % 18446744073709551616::HUGEINT AS x4 FROM h3),
      |h5 AS (SELECT doc_id, i, xor(x4, x4//2147483648) AS x5 FROM h4),
      |h AS (SELECT doc_id, i,
      |  CAST(CASE WHEN x5 >= 9223372036854775808::HUGEINT
      |            THEN x5 - 18446744073709551616::HUGEINT ELSE x5 END
      |    AS BIGINT) AS hv FROM h5),
      |wmin AS (SELECT doc_id, i,
      |  min(hv) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
      |  max(i) OVER (PARTITION BY doc_id) AS maxi FROM h),
      |sel AS (SELECT DISTINCT doc_id, m AS fp FROM wmin WHERE i <= maxi - 3),
      |kept AS (SELECT fp, doc_id FROM
      |  (SELECT fp, doc_id, count(*) OVER (PARTITION BY fp) AS df FROM sel)
      |  WHERE df <= 20)""".stripMargin
}
