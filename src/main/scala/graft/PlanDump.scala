package graft
/** Dumps the physical operator tree of each headline query.
  * PlanFreshnessSpec diffs the committed PLANS.md against these
  * queries' live plan skeletons — a plan-affecting change without a
  * PLANS.md re-run fails the suite instead of silently drifting. */
object PlanDump {

  /** The queries PLANS.md documents (and the freshness spec pins). */
  val headlineNames: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q07_revenue_by_nation",
    "q21_dedup_minhash_lsh", "q22_simjoin_jaccard", "q24_dedup_simhash",
    "q30_knn_cosine", "q33_ann_ivf", "q36_vi_normalize",
    "q38_ordered_concat", "q43_simjoin_ngram",
    "q46_simjoin_words", "q48_decontaminate", "q51_asof_join",
    "q53_interval_join", "q55_keyword_search", "q57_neardup_lsh",
    "q72_percentile_sketch", "q73_curation_pipeline",
    "q77_chargram_familiarity", "q79_neardup_semantic",
    "q81_delta_ingest", "q82_kmeans", "q83_chunk_documents",
    "q84_semantic_trained", "q86_event_funnel", "q87_cohort_retention",
    "q90_containment", "q92_exact_substring_spans", "q93_drop_repeated_spans",
    "q94_quality_classifier", "q99_cooccurrence", "q100_cdc_chunks",
    "q103_pq_ann", "q104_ivf_pq", "q105_triangle_count",
    "q106_hll_algebra", "q107_pq_rerank", "q111_pq_code_dedup",
    "q112_ingest_planner", "q113_quality_gate", "q117_zorder_layout",
    "q119_triplet_mine", "q120_profile", "q121_maxsim_rerank",
    "q122_systematic_sample", "q123_attribution", "q124_transition_matrix",
    "q125_dimension_stats", "q126_drift_chi2", "q127_ann_recall_audit",
    "q128_leakage_split", "q129_khop_reach", "q130_hyperball",
    "q131_resample_locf", "q132_pps_sample", "q133_snapshot_diff",
    "q134_hits", "q135_covariance", "q136_link_predict",
    "q137_jl_project", "q138_mad_outliers", "q139_equidepth_buckets",
    "q140_trustrank", "q141_validation_report", "q142_mutual_knn",
    "q143_linear_attribution", "q144_class_auc", "q145_spearman",
    "q146_editdist_neardup", "q147_asof_forward", "q148_paragraph_dedup",
    "q149_km_lifetable", "q150_pca_project", "q151_dbscan",
    "q152_dsir_importance", "q153_record_linkage", "q154_decayed_counts",
    "q155_cusum", "q156_dedup_recall_audit", "q157_market_basket",
    "q158_bpe_merges", "q159_bpe_segment", "q160_margin_pairs",
    "q161_survivorship", "q162_memorization_risk", "q163_temperature_mix",
    "q164_k_anonymity", "q165_seasonal_baseline", "q166_bm25",
    "q167_source_divergence", "q168_rendezvous_shard",
    "q169_session_paths", "q170_truncation_audit",
    "q171_join_size_estimate", "q172_selection_curve", "q173_vocab_growth",
    "q174_source_inequality", "q175_ab_test", "q176_contribution_census",
    "q177_label_consistency", "q178_wasserstein", "q179_posting_compression",
    "q180_mutual_information", "q181_adamic_adar", "q182_tail_index",
    "q183_khop_auto_routed", "q184_pdf_extract",
    "q185_seasonal_decompose", "q186_changepoint",
    "q189_binary_segmentation", "q190_theil_sen", "q191_mann_kendall",
    "q192_seasonal_kendall", "q193_seasonal_anomaly",
    "q194_ks_two_sample", "q195_cliffs_delta", "q196_hl_shift",
    "q197_runs_test", "q198_autocorr", "q199_cvm_two_sample",
    "q200_kruskal_wallis", "q201_kendall_tau", "q202_zipf_fit",
    "q203_moments", "q204_crosscorr", "q206_isotonic",
    "q207_winsorize", "q208_quantile_normalize",
    "q209_tokenizer_fertility", "q210_source_length_drift",
    "q211_best_split", "q212_psi", "q213_lang_agreement",
    "q215_ipf_raking", "q216_longest_repeated_gram",
    "q217_graph_ann_beam", "q218_unigram_surprisal",
    "q219_winnow_fingerprints", "q220_winnow_overlap_pairs",
    "q221_span_overlap_clusters", "q222_ctfidf_terms",
    "q223_jackknife_ci", "q224_kcenter_coreset",
    "q225_label_cohesion", "q227_voptimal_hist",
    "q228_crossencoder_rerank", "q229_doremi_mix",
    "q230_blocklist_hits", "q231_bleu_components", "q232_image_sniff",
    "q233_stream_static_enrich")

  /** Operator-name skeleton of a formatted explain: the tree section
    * with indentation, expression ids, and numbering stripped —
    * stable across runs, changes exactly when the plan shape does. */
  def skeleton(formattedPlan: String): Seq[String] =
    formattedPlan.linesIterator
      .dropWhile(l => !l.startsWith("== Physical Plan =="))
      .drop(1)
      .takeWhile(_.trim.nonEmpty)
      .map(_.replaceAll("^[\\s+:*-]+", "").replaceAll("\\s*\\(\\d+\\)\\s*$", "").trim)
      .filter(_.nonEmpty)
      .toSeq

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/plans.md")
    val spark = GraftSession("graft-plandump", "8")
    val sf = "/root/testdata/sf0.001"
    val names = PlanDump.headlineNames
    val sb = new StringBuilder
    sb.append("# PLANS — physical operator trees of headline queries\n\n")
    sb.append("Generated by `graft.PlanDump` from the registered queries; re-run\n")
    sb.append("`sbt \"runMain graft.PlanDump PLANS.md\"` after plan-affecting changes.\n")
    sb.append("Per-node detail: `df.explain(\"formatted\")` on the query's DataFrame.\n")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val tree = plan.linesIterator.takeWhile(_.trim.nonEmpty)
      sb.append(s"\n## $n\n\n```\n")
        .append(tree.mkString("\n")).append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
