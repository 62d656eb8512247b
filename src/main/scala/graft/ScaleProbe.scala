package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Growth-under-scale probe: materializes a FACTOR× (default 10×, ≈sf1)
  * copy of an SF directory with referentially-consistent key offsets,
  * then times representative queries at both scales and prints the
  * per-query growth factor — the direct evidence for "would this plan
  * survive a 10× scale-up?".
  *
  * Scaling is NOT naive row duplication (which would turn every dedup
  * key into a 10-way collision and every dim join ambiguous):
  *  - fact keys offset per copy, foreign keys offset with their parents
  *    (orders→customer, lineitem→orders/part/supplier stay joinable);
  *  - dimension tables (region, nation) stay unscaled — dims don't grow
  *    10× when facts do;
  *  - `documents.text` gets a per-copy suffix token, so copies form
  *    NEAR-duplicate families of 10 — deliberate: web-scale corpora are
  *    30–60% near-dup, so the dedup operators are probed on exactly the
  *    distribution they exist for;
  *  - `customer.c_name` suffixes are pairwise Levenshtein>1 across
  *    copies, so the fuzzy join replicates original matches without
  *    manufacturing quadratic cross-copy matches;
  *  - each embedding copy is rotated by its copy index — norms and
  *    intra-copy distances are preserved (rotated near-pairs stay near),
  *    cross-copy cosines are background-level, so ANN input and output
  *    both grow linearly.
  *
  * Usage: runMain graft.ScaleProbe [srcDir] [dstDir] [factor] [query...]
  * Writes only under dstDir (default /tmp/graft_sf1). If dstDir already
  * holds scaled tables, generation is skipped (delete it to regenerate);
  * extra args probe exactly those queries (listed below or not).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val named = Harness.select(args.drop(3).toSeq)
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setCheckpointDir(s"$dst/_checkpoints")

    def base(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def keyBase(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1

    /** One scaled copy: keys shifted by i×base keeping their type. */
    def offsetKeys(df: DataFrame, i: Int, offs: Seq[(String, Long)]): DataFrame =
      offs.foldLeft(df) { case (d, (c, b)) =>
        d.withColumn(c, (col(c).cast("long") + lit(i * b)).cast(df.schema(c).dataType))
      }

    // per-table resume: a committed write leaves a _SUCCESS marker, an
    // aborted one does not — so a crashed generation redoes only the
    // missing tables on the next run
    def done(name: String): Boolean =
      new java.io.File(s"$dst/$name.parquet/_SUCCESS").exists()
    def writeScaled(name: String, mk: (DataFrame, Int) => DataFrame): Unit =
      if (!done(name)) {
        val b = base(name)
        (0 until factor).map(i => mk(b, i)).reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      }
    def copyAsIs(name: String): Unit =
      if (!done(name))
        base(name).write.mode("overwrite").parquet(s"$dst/$name.parquet")

    if (done("embeddings")) println(s"reusing scaled tables in $dst")
    else {
    println(s"scaling $src -> $dst at ${factor}x ...")
    copyAsIs("region"); copyAsIs("nation")
    val custB = keyBase(base("customer"), "c_custkey")
    val ordB = keyBase(base("orders"), "o_orderkey")
    val partB = keyBase(base("part"), "p_partkey")
    val suppB = keyBase(base("supplier"), "s_suppkey")
    val evB = keyBase(base("events"), "event_id")
    val docB = keyBase(base("documents"), "doc_id")
    val vecB = keyBase(base("embeddings"), "vec_id")

    writeScaled("customer", (df, i) => {
      val shifted = offsetKeys(df, i, Seq("c_custkey" -> custB))
      // pairwise-distant suffixes: no manufactured cross-copy fuzzy matches
      if (i == 0) shifted
      else shifted.withColumn("c_name",
        concat(col("c_name"), lit(" " + (('a' + i).toChar.toString * 2))))
    })
    writeScaled("supplier", offsetKeys(_, _, Seq("s_suppkey" -> suppB)))
    writeScaled("part", offsetKeys(_, _, Seq("p_partkey" -> partB)))
    writeScaled("orders",
      offsetKeys(_, _, Seq("o_orderkey" -> ordB, "o_custkey" -> custB)))
    writeScaled("lineitem", offsetKeys(_, _,
      Seq("l_orderkey" -> ordB, "l_partkey" -> partB, "l_suppkey" -> suppB)))
    writeScaled("events", offsetKeys(_, _, Seq("event_id" -> evB)))
    writeScaled("documents", (df, i) => {
      val shifted = offsetKeys(df, i, Seq("doc_id" -> docB))
      if (i == 0) shifted
      else shifted.withColumn("text", concat(col("text"), lit(s" v$i")))
    })
    writeScaled("embeddings", (df, i) => {
      val shifted = offsetKeys(df, i, Seq("vec_id" -> vecB))
      // rotation (norm-preserving, intra-copy geometry unchanged,
      // cross-copy cosine at background level), composed with a sign
      // flip once the 64 distinct rotations are exhausted — negation
      // also preserves norms and intra-copy distances, and a negated
      // rotation is never cosine-close to the positive one, so all 128
      // combinations stay pairwise background-level
      val r = i % 64
      val rotated =
        if (r == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
          s"slice(embedding, 1, $r))")
      val oriented =
        if (i < 64) rotated else transform(rotated, x => -x)
      if (i == 0) shifted else shifted.withColumn("embedding", oriented)
    })
    println("scaled tables written")
    }

    // STANDING RULE (round 12+): every new query whose plan contains a
    // JOIN or a WINDOW gets a row here AND a 100× probe row in the
    // BENCH.md close section before the round closes (or an explicit
    // flat-at-10× waiver written there). 10×-only probing let
    // q_kneser_ney's 63× curve hide until it was promoted to the heavy
    // list; joins and windows are exactly the shapes whose growth can
    // be super-linear, so they are probed at both factors by default.
    val probeQueries = if (args.length > 3) named else Seq(
      "q_line_dedup", "q_dedup_exact", "q_dedup_latest", "q_dedup_corpus",
      "q_dedup_keep_best", "q_dup_stats_by_source",
      "q_dup_clusters_star", "q_lsh_candidates", "q_embed_dedup",
      "q_embed_dedup_adaptive", "q_semantic_dedup", "q_incremental_dedup",
      "q_fuzzy_join", "q_boilerplate", "q_bigram_lm", "q_quality_filter",
      "q_tfidf_terms", "q_ann_lsh", "q_cosine_topk", "q_ivfpq_recall",
      "q1_pricing_summary", "q_tpch_q2", "q_tpch_q7", "q_tpch_q18",
      "q_tpch_q21", "q_group_count",
      "q_topk_heap", "q_upsert_latest", "q_daily_trend",
      "q_gap_fill", "q_islands", "q_split_assign", "q_winsorize", "q_unicode_norm",
      "q_manifest", "q_epoch_mix", "q_global_order",
      "q_setsim_join", "q_setsim_topk", "q_inverted_index", "q_phrase_search",
      "q_profile",
      "q_rfm", "q_knn_graph", "q_mutual_knn", "q_knn_graph_adaptive",
      "q_equidepth_hist",
      "q_ks_test", "q_triangles",
      // round-7 additions (q_containment is excluded by design: it runs
      // on a fixed doc_id<20 audit slice, so 10× growth is zero by
      // construction — nothing to learn)
      "q_bm25", "q_chunk_dedup", "q_cdc_chunks", "q_pmi_bigrams",
      "q_anomaly_zscore",
      // round-7 continuation 2
      "q_ppl_buckets", "q_gopher_repetition", "q_domain_kl", "q_zipf_fit",
      "q_embed_health", "q_lang_confusion", "q_dsir_weight",
      "q_audio_features", "q_k_anonymity",
      // round-7 continuation 3
      "q_token_budget", "q_hard_negatives", "q_source_overlap",
      "q_skipgram_pairs", "q_kmeans_iter", "q_domain_percentile",
      "q_length_batching", "q_dup_weights",
      // relational/fact-table growth (lineitem is the 100 TB-shaped
      // table; q1_pricing_summary and q_tpch_q18 are already listed above)
      "q_tpch_q3", "q_join_agg", "q_topk_groups",
      // round-7 continuation 4
      "q_event_transitions", "q_readability", "q_split_leakage",
      "q_embed_variance", "q_label_centroids", "q_ngram_novelty",
      "q_mislabel_candidates", "q_matryoshka_recall", "q_retrieval_eval",
      "q_sq_recall", "q_windowed_funnel", "q_time_to_convert",
      "q_first_touch", "q_quality_length_corr", "q_vocab_coverage",
      "q_temporal_split", "q_feature_drift", "q_ivf_balance", "q_knn_degree",
      "q_lsh_precision", "q_shingle_df_profile", "q_activity_concentration",
      "q_minhash_accuracy", "q_dup_family_sizes", "q_orders_cohort",
      "q_basket_pairs", "q_l_diversity", "q_pq_distortion",
      "q_dup_source_flow", "q_dedup_savings", "q_lsh_bit_balance",
      "q_filter_funnel", "q_cosine_hist", "q_robust_outliers",
      "q_ab_assign", "q_seasonal_naive", "q_embed_drift", "q_order_shape",
      "q_wow_growth", "q_source_gini", "q_fk_orphans", "q_sq_distortion",
      "q_heaps_fit", "q_ttr_curve", "q_top_eigen", "q_label_separation",
      "q_source_js", "q_entropy_rate", "q_effective_dims",
      "q_family_purity", "q_quantile_drift", "q_product_communities",
      "q_modal_dedup_agreement", "q_trimmed_mean", "q_mix_shift",
      "q_autocorr", "q_benford", "q_bucket_occupancy", "q_sample_bias",
      "q_spearman", "q_conditional_value", "q_user_type_affinity",
      "q_dim_corr", "q_repurchase_interval", "q_weekday_profile",
      "q_discount_impact", "q_user_diversity", "q_return_rate",
      // round 8
      "q_dau_stickiness", "q_burstiness", "q_volume_concentration",
      "q_decile_lift", "q_char_class_mix", "q_norm_outliers",
      "q_knn_degree_adaptive", "q_ship_lag", "q_price_realization",
      "q_path_triples", "q_type_percentiles", "q_brand_hhi",
      "q_knn_label_purity", "q_seasonality_strength", "q_temperature_mix",
      "q_domain_bounds", "q_key_uniqueness", "q_freshness", "q_rrf_fusion",
      "q_mannwhitney", "q_changepoint", "q_ewma", "q_bootstrap_ci",
      "q_kcore", "q_t_closeness", "q_cramers_v", "q_logreg_irls", "q_ndcg",
      // q_link_predict probes since round 10: the per-node top-256
      // neighbor cap bounds the wedge fan-out, so growth now measures
      // the capped-adjacency build (the seed slice stays fixed)
      "q_link_predict",
      "q_als_step", "q_assortativity", "q_cuped", "q_power_analysis",
      "q_survival_km", "q_did", "q_propensity_strat", "q_mcnemar",
      "q_forecast_skill", "q_stump_split", "q_target_encode",
      "q_gain_chart", "q_price_elasticity", "q_hill_tail",
      // round 10: weighted-graph trio on the published artifact + the
      // four new estimators
      "q_edge_strength", "q_node_strength", "q_weighted_pagerank",
      "q_welch_ttest", "q_theilsen", "q_kendall_tau", "q_mutual_info",
      "q_lag_corr", "q_wasserstein", "q_mann_kendall", "q_price_index",
      "q_calibration", "q_pr_curve", "q_cohens_kappa", "q_hash_features",
      "q_brier_decomp", "q_bfs_layers", "q_video_frames", "q_pit_features",
      "q_user_features", "q_negative_downsample",
      "q_anova", "q_roc_auc", "q_macro_f1", "q_woe_iv",
      "q_clustering_coeff", "q_position_attribution", "q_tscv_folds",
      "q_source_datasheet", "q_dp_histogram", "q_srm_check", "q_key_skew",
      "q_degree_dist",
      "q_retention_curve", "q_sequence_surprisal", "q_attribution_compare",
      "q_peak_load", "q_concurrency_sweep",
      "q_cohort_ltv", "q_supplier_scorecard", "q_market_share_trend",
      "q_new_vs_returning", "q_streak_summary",
      "q_burn_rate", "q_churn_risk", "q_vocab_oov", "q_abc_class",
      "q_demand_cv",
      "q_keyness", "q_nb_classify", "q_fdr_bh", "q_acf", "q_gmv_bridge",
      "q_stl_lite", "q_eb_shrinkage", "q_msprt", "q_hits",
      "q_token_fertility",
      "q_granger", "q_partial_corr", "q_value_quantile_trend",
      "q_filter_overlap", "q_ivf_sweep",
      "q_markov_stationary", "q_top_paths", "q_dwell_histogram",
      "q_seasonal_index", "q_item_intro", "q_rfm_migration",
      "q_tost", "q_capture_recapture",
      "q_morans_i", "q_self_excitation", "q_term_burstiness",
      "q_weibull_fit", "q_dedup_sweep",
      "q_funnel_ci", "q_mde_curve", "q_safety_stock",
      "q_pacf", "q_variance_decomp", "q_abc_xyz",
      "q_coverage_curve", "q_lm_generalization",
      "q_trade_flows", "q_exp_gof", "q_supply_risk",
      "q_kruskal_wallis", "q_runs_test", "q_ljung_box", "q_friedman",
      "q_rich_club", "q_jl_distortion", "q_erlang_c", "q_scaling_law",
      "q_ahash_dedup", "q_kcenter_coreset",
      "q_sign_test", "q_hurst", "q_assoc_rules", "q_theil_index",
      "q_control_chart", "q_dickey_fuller", "q_rank_stability", "q_simpson_check",
      "q_modularity", "q_uncertainty_sample",
      "q_burrows_delta", "q_absorption_steps", "q_newsvendor",
      "q_conformal", "q_mmd_linear", "q_cmh_test", "q_obrien_fleming",
      "q_shapley_attribution", "q_holm_bonferroni", "q_ransac_fit",
      "q_ppr", "q_hub_robustness", "q_best_passage",
      "q_crosstab_residuals", "q_price_endings",
      // round 11: survival family, assumption checks, ranking eval,
      // graph additions, model fits, and the curation/drift additions
      "q_nelson_aalen", "q_logrank", "q_rmst", "q_km_ci", "q_hazard_ratio",
      "q_levene", "q_jarque_bera", "q_durbin_watson", "q_cochran_q",
      "q_grubbs", "q_tukey_hsd", "q_icc", "q_paired_ttest", "q_ipw_ate",
      "q_wilson_ci", "q_avg_precision", "q_err", "q_rbo", "q_fleiss_kappa",
      "q_mmr_diversify", "q_label_prop", "q_graph_diameter", "q_ols_multi",
      "q_gbm_round", "q_em_gmm_step", "q_eoq", "q_bullwhip",
      "q_rake_keywords", "q_kneser_ney", "q_doremi_step", "q_psi",
      "q_pinball_eval",
      "q_rec_coverage", "q_brand_switch", "q_cross_elasticity",
      "q_chow_test", "q_cooks_distance", "q_breusch_pagan",
      "q_gumbel_fit", "q_chain_ladder", "q_vif", "q_kupiec_pof",
      "q_conductance", "q_yule_k", "q_silhouette", "q_davies_bouldin", "q_page_hinkley",
      // round 12 (standing rule: join/window ⇒ probe; q_bartlett and
      // q_rate_ratio are single-pass aggregates and flat by shape, the
      // rest plan joins or windows)
      "q_good_turing", "q_chao1", "q_dispersion", "q_periodogram",
      "q_kendall_w", "q_katz", "q_adamic_adar", "q_gini_customer",
      "q_croston", "q_sttr", "q_ngram_contamination", "q_atkinson",
      "q_huber_step", "q_ridge_closed", "q_tpch_q5", "q_negbin_fit",
      "q_decay_popularity", "q_ucb1", "q_join_size_est",
      "q_zonemap_prune", "q_bcg_matrix", "q_cdc_compact", "q_scd2_asof",
      "q_pii_scan", "q_domain_ppl", "q_loo_source_influence",
      "q_greedy_coverage", "q_iv_wald", "q_reg_discontinuity",
      "q_time_decay_attribution", "q_unigram_sampling", "q_bradley_terry",
      "q_disorder_profile", "q_bow_dedup", "q_template_mining",
      "q_graph_matching", "q_weighted_median", "q_jelinek_mercer",
      "q_kpss", "q_sax_motifs", "q_kmv_distinct", "q_rolling_slope",
      "q_turning_points", "q_spectral_entropy", "q_wilcoxon",
      // round 15 (standing rule: join/window ⇒ probe)
      "q_dup_spans", "q_dup_span_cut", "q_contamination_spans")

    // cold = run 1, min = min-of-2. r16 (verdict item 5): pins are
    // RELEASED between the two runs (Harness.run always releases) — run 2
    // recomputes from the parquet inputs for every query, matching
    // Bench's contract, so the warm column means one thing for all
    // queries. (Pre-r16 probe rows let run 2 replay run 1's pinned
    // caches, so their warm/min columns for self-pinning queries measured
    // a cache read — compare those rows on the COLD column only.)
    // Queries whose 100× rows showed ±30% run-to-run spread on IDENTICAL
    // code (q_hub_robustness: 48.3–78.7 s across r13/r14 same-day
    // samples — the after-CC star contraction is checkpoint-I/O-bound):
    // a single min-of-2 reading is weather, not signal. These take
    // MEDIAN-OF-3 (cold and min columns alike; pins released between
    // samples so each is self-contained) and the printed cell carries
    // the [min–max] range — BENCH.md ledger rows for them must quote
    // the range, never a point.
    val HighVariance = Set("q_hub_robustness")
    final case class Cell(cold: Double, min: Double, rows: Long)
    def samples(q: String, dir: String): Either[String, List[Cell]] =
      (1 to (if (HighVariance(q)) 3 else 1)).foldLeft[Either[String, List[Cell]]](Right(Nil)) {
        (acc, _) => acc.flatMap { cs =>
          val (errs, runs) = Harness.runTwice(spark, q, dir, Harness.Sink.Count).partitionMap(identity)
          errs.headOption.toLeft(
            cs :+ Cell(runs.head.seconds, runs.map(_.seconds).min, runs.last.rows.getOrElse(0L)))
        }
      }
    def cell(xs: List[Double]): String =
      if (xs.size == 1) f"${xs.head}%.2f"
      else f"${xs.sorted.apply(1)}%.2f [${xs.min}%.2f–${xs.max}%.2f]"

    println("probe_semantics=2 (pins released between runs, r16)")
    println(f"| query | t@1x (s) | cold@1x | rows@1x | t@${factor}x (s) | cold@${factor}x | rows@${factor}x | growth |")
    println("|---|---:|---:|---:|---:|---:|---:|---:|")
    for (q <- probeQueries) {
      val row = for (a <- samples(q, src); b <- samples(q, dst)) yield {
        val growth = if (HighVariance(q)) "median-of-3" else f"${b.head.min / a.head.min}%.1f×"
        s"| $q | ${cell(a.map(_.min))} | ${cell(a.map(_.cold))} | ${a.head.rows} | " +
          s"${cell(b.map(_.min))} | ${cell(b.map(_.cold))} | ${b.head.rows} | $growth |"
      }
      println(row.fold(m => s"| $q | ERROR $m |", identity))
    }
    spark.stop()
  }
}
