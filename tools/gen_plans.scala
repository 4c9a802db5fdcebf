// Regenerates PLANS.md - run via:
//   /opt/spark/bin/spark-shell --master 'local[4]' \
//     --conf spark.sql.legacy.parquet.nanosAsLong=true \
//     --conf spark.sql.extensions=graft.plans.GraftExtensions \
//     --driver-class-path target/scala-2.13/classes -i tools/gen_plans.scala
import java.io.PrintWriter
val out = new PrintWriter("/root/repo/PLANS.md", "UTF-8")
out.println("# PLANS - physical-plan audits (sf0.01)")
out.println()
out.println("`executedPlan` for the scale-sensitive queries; see SCALE.md for the")
out.println("design rationale each plan demonstrates. Regenerate with tools/gen_plans.scala.")
val dir = "/root/testdata/sf0.01"
// flagship 4-step chain's valid split: the split filter sits behind the
// barrier, and the pushdown twin must show
// PushedFilters: [IsNotNull(l_quantity)] on the scan
val flagship: org.apache.spark.sql.DataFrame = {
  import org.apache.spark.sql.functions._
  val li = spark.read.parquet(s"$dir/lineitem.parquet")
  graft.core.Validate.columns(li, "l_quantity" ->
    (graft.filters.Required(graft.filters.Emptiness.never) | graft.filters.Int() |
      graft.filters.Min(1) | graft.filters.Max(50))).valid
}
for (name <- Seq("flagship_valid_split", "q_required", "q_min", "q_topk_similar",
    "q_dedup_minhash", "q_window_events", "q_pipeline_e2e", "q_session_window",
    "q_ivf_topk", "q_ivf_oracle", "q_dedup_clusters", "q_cap_stratum",
    "q_pack_sequences", "q_contamination", "q_dedup_incremental",
    "q_asof", "q_range_join", "q_boilerplate", "q_bloom_incremental",
    "q_weighted_sample", "q_interleave", "q_unigram_ll", "q_zorder",
    "q_quantized_topk", "q_dsir", "q_asof_nearest", "q_boilerplate_domain",
    "q_url_dedup", "q_url_psl", "q_dedup_units", "q_curation_e2e",
    "q_html_text", "q_dedup_spans", "q_twopass",
    "q_bm25_topk", "q_shard_assign", "q_stream_session", "q_bigram_ll",
    "q_robots", "q_semdedup", "q_collocations", "q_script_mix",
    "q_perplexity_buckets", "q_ngram_jaccard",
    "q_kmv_overlap", "q_winsorize", "q_gopher_rules", "q_bpe_tokens", "q_mean_pool",
    "q_funnel", "q_rolling", "q_ewma", "q_fuzzy_join", "q_pagerank",
    "q_quality_score", "q_logit_fit",
    "q_cdc_apply", "q_snapshot_diff", "q_topk_group", "q_mad_outliers",
    "q_kl_divergence", "q_fk_orphans", "q_scd_history", "q_salted_join",
    "q_dedup_weighted",
    "q_interval_merge", "q_sessionize", "q_tfidf", "q_compaction_plan",
    "q_zonemap", "q_anchor_profile",
    "q_pq_topk", "q_dedup_keep_best", "q_split_decontam", "q_manifest",
    "q_quantile_buckets", "q_skew_report", "q_manifest_verify", "q_knn_join",
    "q_jaccard_join", "q_global_rank", "q_coverage_cut", "q_select_budget",
    "q_budget_per_lang", "q_release_e2e", "q_rollup_refresh",
    "q_bm25_indexed", "q_wap_publish", "q_hamming_pairs",
    "q_corr_matrix", "q_retention", "q_transitions", "q_mojibake",
    "q_readability", "q_gini",
    "q_pii_redact", "q_mapper_variant", "q_phrase_search", "q_tag_keywords",
    "q_entity_resolution", "q_profile_drift", "q_confusables",
    "q_kn_bigram", "q_stream_keystats",
    "q_auc", "q_auc_by_lang", "q_calibration", "q_cms_freq", "q_psi",
    "q_log_odds", "q_chi_square", "q_pct_norm", "q_cluster_labels",
    "q_url_templates", "q_null_patterns", "q_fd_violations", "q_lexical",
    "q_triangles", "q_hits", "q_rrf_fusion", "q_ks_test", "q_mutual_info",
    "q_cusum", "q_autocorr", "q_embed_cov", "q_interval_join",
    "q_ppr", "q_frequent_pairs", "q_skyline", "q_mmr_rerank", "q_cidr_lookup", "q_geo_join", "q_ks_by_group", "q_ols", "q_kaplan_meier", "q_attribution", "q_jaro",
    "q_attribution_first", "q_attribution_position", "q_mannwhitney",
    "q_bh_fdr", "q_kappa", "q_locf", "q_resample_daily", "q_label_prop",
    "q_assoc_rules", "q_rfm",
    "q_isotonic", "q_holt", "q_seasonal", "q_wilson", "q_prop_ztest",
    "q_ann_recall", "q_theil_sen",
    "q_cube", "q_pop", "q_sla", "q_zipf", "q_kcore", "q_wilcoxon", "q_cohens_d", "q_kfold",
    "q_minhash_oracle", "q_stream_neardup", "q_date_dayfirst", "q_lsh_recall")) {
  val df = if (name == "flagship_valid_split") flagship
           else graft.SparkEntry(name).build(spark, dir)
  out.println()
  out.println(s"## $name")
  out.println()
  out.println("```")
  val plan = df.queryExecution.executedPlan.toString
  plan.split("\n").take(40).foreach(l => out.println(if (l.length > 240) l.take(240) + " ..." else l))
  out.println("```")
}
out.close()
println("[done] PLANS.md written")
System.exit(0)
