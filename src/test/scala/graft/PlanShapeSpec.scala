package graft

/** Physical-plan regression gate: the shuffle/broadcast shape of the
  * flagship queries IS the 100 TB design (BASELINE.md records the
  * rationale per query) — a refactor or Spark upgrade that silently adds
  * an exchange or drops a broadcast is a scale regression even when
  * results stay correct. Each assertion is an UPPER bound on exchanges
  * (fewer is fine) plus a LOWER bound on broadcasts (a broadcast that
  * degrades to a shuffle join is exactly the failure this catches).
  * Counts come from the shared [[RegistryWalk]] build's AQE initial plan.
  */
class PlanShapeSpec extends SparkSpec {

  /** (query, max exchanges, min broadcasts). */
  private val expected = Seq(
    ("q_pipeline_tiles", 1, 0),   // single partial+final agg
    ("q_hex_snap", 1, 0),         // snap is narrow; one agg exchange
    ("q_tpch_pricing", 1, 0),     // one agg over a pruned scan
    ("q_dedup_exact", 1, 0),      // one md5-groupBy exchange
    ("q_inverted_index", 1, 0),   // map-side partial collect_set, ONE exchange
    ("q_sample_stratified", 1, 0),// single partial+final agg
    ("q_star_join", 1, 4),        // 4 broadcast dims, one agg exchange
    ("q_bloom_join", 1, 1),       // broadcast dim; bloom filter pre-exchange
    ("q_sim_topk_brute", 0, 1),   // broadcast query, corpus never shuffles
    ("q_interval_pairs", 1, 1),   // one (key, cell) join + agg
    ("q_funnel_stages", 1, 0),    // fold funnel: ONE entity shuffle
    ("q_funnel_lag", 1, 0),       // stage-time vector rides the same fold
    ("q_scd2_intervals", 1, 0),   // lag + lead share one partitioning
    ("q_cusum_drift", 1, 0),      // prefix-sum + running-min share one
    ("q_ref_integrity", 4, 4),    // per-relation anti-join, parents broadcast
    ("q_funnel_session", 1, 0),   // sessionization rides the funnel fold
    ("q_cum_distinct", 1, 0),     // both windows partition by entity only
    ("q_sliding_distinct", 1, 0), // explode(3×) preserves the one shuffle
    // points-agg runs twice (level build + join-back: deliberate re-scan
    // trade) + level agg + per-x window; levels checkpointed, 2 broadcasts
    ("q_skyline_3d", 4, 2),
    ("q_time_weighted_avg", 1, 0), // lead window + agg share one keyed shuffle
    ("q_ewma_smooth", 1, 0),       // sort+fold inside one keyed aggregate
    ("q_rfm_segments", 1, 0),      // 1 hash agg; ntile singles are by design
    ("q_retention_day7", 3, 0),    // distinct + shifted re-key + day agg
    ("q_common_neighbors", 3, 0),  // wedge join + pair agg + anti-join
    ("q_jaccard_prefix", 4, 1),    // rank/prefix + cand join + 2 verify joins
    ("q_trend_slope", 1, 0),       // min-window + moment agg share one shuffle
    ("q_changepoint", 1, 0),       // prefix sums + struct-max argmax, one keyed
    ("q_incremental_agg", 2, 0),   // delta agg + outer merge join ONLY
    ("q_grouped_median", 3, 0),    // stats + hist + landing select, group-keyed
    ("q_jaccard_weighted", 3, 1),  // tf agg + shared join + totals joins
    ("q_skyline_4d", 2, 2),        // level reduce + sweep; 2 broadcast verifies
    ("q_interval_coverage", 1, 0), // sweep windows + agg share one keyed shuffle
    ("q_nearest_event", 1, 0),     // union + two-sided windows, one exchange
    ("q_ndcg", 2, 0),              // rank build + metric agg, both group-keyed
    ("q_rank_fusion", 2, 0),       // vocab agg + fusion agg (global ntile singles)
    ("q_seasonal_profile", 2, 0),  // dow agg + key agg, totals join rides along
    ("q_align_clock", 3, 0),       // obs pre-agg + series sweep + tick build
    ("q_incremental_window", 3, 0),// base agg + delta agg + outer merge
    ("q_incremental_minmax", 6, 0),// ins/touched/fast/rebuild branches, all keyed
    ("q_identity_stitch", 3, 0),   // CC label join + session window + rollup
    ("q_maximal_triangles", 3, 0), // wedge join + extension join + anti
    ("q_hits", 3, 0),              // rounds checkpointed; final 2-join assembly
    ("q_adamic_adar", 3, 0),       // wedge join + pair agg + anti-join
    ("q_bigram_lm", 4, 1),         // c12/c1 aggs + scoring joins; V broadcast
    ("q_autocorr", 1, 0),          // lead window + moment agg share one shuffle
    ("q_geofence", 1, 0),          // pure scan → predicate → one agg exchange
    ("q_sample_temperature", 2, 1),// class agg + broadcast scalar totals
    ("q_weighted_median", 2, 0),   // (g,v) pre-agg + g-keyed window/min
    ("q_auc_rank", 1, 0),          // score-value agg; prefix sum on distinct vals
    ("q_attribution", 2, 0),       // entity range-windows + channel rollup
    ("q_day_gaps", 2, 0),          // distinct days + entity-keyed window/agg
    ("q_pii_density", 1, 0),       // per-row regex (codegen) + one source agg
    ("q_clamped_balance", 1, 0),   // Lindley windows + agg share ONE keyed shuffle
    ("q_markov_stationary", 1, 0), // rounds checkpointed; chain state broadcast-sized
    ("q_entry_exit", 3, 0),        // session windows + union rollup
    ("q_psi_drift", 6, 2),         // count agg + grid/total joins (broadcast-sized)
    ("q_topk_other", 2, 0),        // member pre-agg + rank window + rollup
    ("q_percentile_bands", 4, 1),  // stats + shared hist + landing select
    ("q_winsorized_mean", 4, 1),   // bands cutpoints + clamp join-back + agg
    ("q_order_lifecycle", 1, 1),   // orders broadcast into lineitem + one agg
    ("q_skew_advisor", 2, 0),      // one count agg per candidate column
    ("q_msf", 1, 0),               // Boruvka rounds fully checkpointed
    ("q_ddsketch", 2, 0),          // (key, log-bucket) agg + tiny bucket window
    ("q_cuped", 2, 1),             // per-unit agg + scalar moment reduce
    ("q_ddsketch_values", 2, 0),   // same sketch; reconstruction is per-row
    ("q_sprt", 2, 1),              // variant walk window + crossing reduce
    ("q_ddsketch_merged", 3, 0),   // shard sketches + merge agg + landing
    ("q_gini", 1, 0),              // rank window + moment agg share one shuffle
    ("q_benford", 3, 1),           // digit agg + totals join (broadcast-sized)
    ("q_bridges", 1, 0),           // peel rounds checkpointed; final select narrow
    ("q_ks_test", 3, 1),           // value agg + distinct-axis window + top-1
    ("q_chi_square", 4, 3),        // cell agg; margins/totals all broadcast
    ("q_mutual_info", 3, 3),       // cell agg; margins/totals all broadcast
    ("q_kaplan_meier", 3, 1),      // subject agg + time-axis windows
    ("q_cross_corr", 4, 2),        // bounds broadcast; lag explode + ONE moment agg
    ("q_local_clustering", 4, 0),  // wedge join + closure semi + deg/tri joins
    ("q_assortativity", 3, 0),     // deg agg + two deg joins + scalar reduce
    ("q_label_prop", 2, 0),        // rounds checkpointed; final label join
    ("q_unpivot", 1, 0),           // Expand is narrow; one agg exchange
    ("q_diff_in_diff", 1, 1),      // bounds broadcast; one conditional agg
    ("q_t_closeness", 5, 3),       // cell agg; grid/global all broadcast
    ("q_hll", 2, 1),               // 64-row register agg; grid join broadcast
    ("q_feature_hashing", 2, 0),   // (dim, token) partial agg + dim agg
    ("q_target_encoding", 1, 1),   // window = rollup key: ONE exchange; mu broadcast
    ("q_corr_matrix", 0, 0),       // one scalar moment agg, no hash exchange
    ("q_sax", 3, 0),               // daily agg + frame agg + ntile window
    ("q_pattern_vshape", 2, 0),    // daily agg; window+fold share key partition
    ("q_theil_sen", 3, 0),         // daily agg + per-key pair join + median window
    ("q_mase", 2, 0),              // daily agg; lag window feeds same-key rollup
    ("q_edge_jaccard", 4, 0),      // wedge join + edge/deg joins
    ("q_degree_hist", 2, 0),       // degree agg + histogram agg
    ("q_gram_matrix", 0, 0),       // one scalar moment agg, no hash exchange
    ("q_bootstrap_ci", 1, 0),      // ONE conditional-sum aggregate
    ("q_doc_mix", 2, 1),           // cell agg + broadcast total
    ("q_calibration_ece", 2, 1),   // max broadcast + bin agg
    ("q_tpch_local_volume", 2, 4), // ONE big join shuffle + agg; 4 broadcasts
    ("q_reservoir_perkey", 1, 0),  // ONE key-partitioned top-k window
    ("q_mann_whitney", 0, 0),      // value-axis checkpointed; walk is post-scan
    ("q_linreg2", 0, 0),           // one scalar moment agg, no hash exchange
    ("q_naive_bayes", 4, 3),       // tok aggs; model/classes broadcast to scoring
    ("q_scc", 3, 0),               // closure rounds checkpointed; mutual join+agg
    ("q_burstiness", 2, 0),        // bucket agg + key agg, both keyed
    ("q_decision_stump", 0, 1),    // feature axis checkpointed; totals broadcast
    ("q_isotonic", 0, 2),          // bucket axis checkpointed; tiny grid joins
    ("q_sorted_neighborhood", 3, 5), // dist rank + block join; offsets broadcast
    ("q_containment", 5, 6),       // prefix cand join + verify joins, sizes broadcast
    ("q_tpch_top_orders", 1, 1),   // ONE lineitem agg; survivors broadcast to orders
    ("q_welch_ttest", 0, 0),       // one scalar moment agg, no hash exchange
    ("q_heaps_law", 4, 1),         // tok/first-occ aggs + keyed walk + LS reduce
    ("q_skipgram_pmi", 3, 4),      // pos probe join + pair agg; totals broadcast
    ("q_novelty", 2, 1),           // shingle first-occ agg + doc agg
    ("q_deepwalk", 0, 0),          // every hop checkpointed (frontier joins)
    ("q_modularity", 0, 1),        // community axis checkpointed; totals broadcast
    ("q_item_cf", 4, 3),           // basket self-join + pair agg; totals broadcast
    ("q_bcubed", 4, 0),            // cell/cluster/truth aggs on the cell axis
    ("q_markov_attribution", 0, 0),// states axis checkpointed; journeys pre-agg
    ("q_nelson_aalen", 0, 1),      // time axis checkpointed; totals broadcast
    ("q_lorenz", 1, 0),            // rank/total windows + decile agg share ONE key
    ("q_entropy_rate", 1, 0),      // lag window + state agg share one keyed shuffle
    ("q_luby_mis", 0, 0),          // every round's frontier checkpointed
    ("q_seasonal_strength", 3, 0), // day agg + cell agg + key reduce, all keyed
    ("q_forecast_backtest", 2, 2), // day axis checkpointed; md broadcast pairing
    ("q_shapley_attribution", 1, 3), // mask agg; lattice/vtab broadcast
    ("q_acf", 3, 5),               // day axis checkpointed; totals/den broadcast
    ("q_cf_recall", 15, 1),        // full CF train + eval joins; li checkpointed
    ("q_od_matrix", 2, 0),         // (veh, day) agg + flow agg, both keyed
    ("q_hex_smooth", 1, 1),        // cell counts checkpointed; scatter-gather agg
    ("q_dwell_time", 2, 0),        // veh lead window + cell agg
    ("q_knn_classify", 3, 1),      // test-fold spread + train broadcast + rank/votes
    ("q_gnn_aggregate", 1, 2),     // hop joins broadcast the tiny h1/feats
    ("q_radius_gyration", 1, 1),   // moment agg + broadcast join-back pass
    ("q_silhouette", 4, 1),        // centroid agg broadcast back to points
    ("q_dbscan_classify", 7, 0),   // point spread + ε-cell pair join + passes
    ("q_path_length", 1, 0),       // route window + agg share one shuffle
    ("q_harmonic", 1, 0),          // BFS checkpointed; one seed agg
    ("q_jaccard_edges", 4, 2),     // wedge join; tiny edge/deg frames bc
    ("q_weighted_sample", 0, 0),   // TakeOrderedAndProject, no exchange
    ("q_chunk_documents", 0, 0),   // pure narrow fan-out, zero shuffle
    ("q_linear_score", 1, 0),      // one doc-keyed agg + top-k merge
    ("q_abc_pareto", 3, 2),        // banded prefix: band window + bc offsets
    ("q_watermark_audit", 1, 0),   // arrival-order window + agg, one shuffle
    ("q_join_size_estimate", 5, 2),// two key-count aggs + tiny sketch joins
    ("q_centroid_drift", 3, 1),    // two centroid aggs + tiny k·dim join
    ("q_uncertainty_sample", 1, 0),// one doc agg + top-k merge
    ("q_dau_stickiness", 3, 0),    // (u,day) dedup + scatter dedup + join
    ("q_event_trigrams", 2, 0),    // entity sort window + trigram count
    ("q_tpch_unshipped", 1, 2),    // Q3 shape: bc segment dim + order agg
    ("q_semiadditive", 2, 0),      // argmax month-end + month rollup
    ("q_peak_concurrency", 1, 0),  // sweep-line window + agg, one shuffle
    ("q_dedup_normalized", 2, 0),  // norm-group agg + one-row summary
    ("q_tpch_custdist", 3, 0),     // orders pre-agg + outer join + histogram
    ("q_tpch_promo", 1, 1),        // part dim broadcast; one conditional agg
    ("q_tpch_returns", 3, 1),      // li⋈o + cust-grain agg; customer broadcast
    ("q_tpch_idle_rich", 3, 1),    // scalar thr broadcast + anti join + agg
    ("q_mann_kendall", 6, 2),      // daily agg + pair join + tie agg (tiny bc)
    ("q_kruskal_wallis", 6, 3),    // axis agg + midrank spine + group terms
    ("q_jarque_bera", 1, 0),       // ONE moment aggregate, s1..s4 map-side
    ("q_max_drawdown", 1, 0),      // run/peak windows + agg share one shuffle
    ("q_colocation", 4, 0),        // presence dedup + blocked pair join + agg
    ("q_stay_points", 2, 0),       // veh islands window + cell rollup
    ("q_location_entropy", 2, 0),  // (veh,cell) count + veh rollup
    ("q_hourly_heatmap", 2, 0),    // 168-cell agg + type-share window
    ("q_perceptron", 0, 1),        // two scalar aggs; w1 broadcast to r2
    ("q_reciprocal_best", 4, 0),   // pair scan checkpointed; 2 argmin windows
    ("q_lateness_histogram", 1, 0),// arrival window + band agg, one shuffle
    ("q_runs_test", 2, 0),         // daily agg + sign/chg windows share key
    ("q_quality_funnel", 1, 0),    // ONE scan + case ladder + stage agg
    ("q_decontaminate_embedding", 1, 1), // bench broadcast; corpus never self-joins
    ("q_minhash_curve", 8, 3),     // the shared candidates pipeline + curve agg
    ("q_holt_winters", 2, 0),      // rank window + pivot agg; unroll is narrow
    ("q_graph_coloring", 0, 0),    // every round's frontier checkpointed
    ("q_token_bucket", 1, 0),      // lag window + per-key fold share one key
    ("q_volume_anomaly", 3, 1),    // daily agg + moments broadcast back
    ("q_confusion_metrics", 3, 0), // confusion checkpointed; 2 marginal joins
    ("q_dtw_paa", 1, 1),           // PAA checkpointed; bc pair join, DP narrow
    ("q_tpch_trade_flows", 2, 4),  // ONE li⋈o shuffle; 4+ dim broadcasts
    ("q_hurst", 3, 0),             // rank window + block/scale aggs, keyed
    ("q_rec_coverage", 4, 2),      // CF checkpointed; tiny scalar broadcasts
    ("q_fifo_matching", 4, 1),     // 2 class windows + blocked pair join
    ("q_funnel_daily", 2, 0),      // funnel fold + day rollup
    ("q_logrank", 0, 1),           // risk walk on checkpointed time axis
    ("q_theils_u", 5, 3),          // post-checkpoint cell-axis aggs only
    ("q_lift_gains", 1, 0),        // seg-partitioned ntile + cum windows
    ("q_croston", 2, 0),           // (key,day) agg + keyed lag/fold
    ("q_permutation_entropy", 2, 0), // lag windows + pattern agg share key
    ("q_epoch_folding", 1, 4),     // hour agg once; spine/periods broadcast
    ("q_tpch_min_cost", 3, 3),     // supply agg + argmin join-back, dims bc
    ("q_tpch_large_orders", 1, 1), // ONE orderkey shuffle; customer bc
    ("q_tpch_parts_supp", 3, 2),   // distinct + rollup; part/excl bc
    ("q_hhi", 4, 2),               // supplier agg + group rollup; dims bc
    ("q_pr_auc", 1, 0),            // value agg + distinct-axis sweep
    ("q_cohens_kappa", 2, 3),      // cell checkpoint; margins/totals bc
    ("q_bowtie", 4, 0),            // 2 BFS sweeps checkpointed + class joins
    ("q_kl_vocab", 1, 1),          // ONE token agg; totals broadcast
    ("q_zonemap_prune", 2, 0),     // file stats + partition rollup
    ("q_convoy", 4, 0),            // presence dedup + blocked pair join + runs
    ("q_mix_reweight", 0, 2),      // bucket axis checkpointed; scalars bc
    ("q_mde", 1, 0),               // ONE segment moment aggregate
    // q_salsa is ungated like the other star-contraction CC queries —
    // its exchange count tracks the (data-dependent) round count.
    ("q_rich_club", 2, 3),         // degree axis + k-grid rollups
    ("q_transitivity", 2, 2),      // wedge joins + degree closed form
    ("q_path_drift", 2, 0),        // (u,day) fold + u-keyed lag/rollup
    // pattern axis checkpointed; totals bc; the 1 exchange is the ≤24-row
    // per-field weight re-sum (long-form reshape that keeps every
    // projection under Janino's 64 KB method limit — codegen stays on)
    ("q_fellegi_sunter", 1, 4),
    ("q_rle_compression", 1, 0),   // lag + run aggs share the entity key
    ("q_centroid_matrix", 9, 2),   // label-axis joins post-checkpoint
    // round-8 batches (54..66); q_graph_robustness ungated like the
    // other star-contraction CC queries (data-dependent round count)
    ("q_kendall_tau", 4, 2),       // month agg + nk-keyed pair join
    ("q_bh_fdr", 1, 1),            // ONE cell agg; global moments bc
    ("q_partial_corr", 1, 0),      // per-order agg then one moment row
    ("q_offpolicy_eval", 3, 2),    // cell agg; best/K broadcast back
    ("q_compaction_bins", 2, 1),   // day agg + bin rollup; total bc
    ("q_dyad_census", 2, 2),       // edge dedup + pair agg; scalars bc
    ("q_lof", 12, 0),              // label-blocked kNN + 3 keyed aggs
    ("q_stratified_ate", 2, 1),    // spend agg + stratum cells
    ("q_knee_detection", 1, 1),    // brand agg; curve window post-bc
    ("q_bitemporal", 2, 0),        // version union + keyed pick + rollup
    ("q_bow_cosine", 3, 3),        // word index + pair agg; norms bc
    ("q_pca_deflation", 2, 0),     // two Gram aggs; dims² frames after
    ("q_simpson_reversal", 1, 1),  // ONE group moment agg; pooled bc
    ("q_price_elasticity", 2, 1),  // qty agg + brand moments
    ("q_haar_energy", 10, 10),     // 5 dyadic levels × (agg + spine bc)
    ("q_hausdorff_traj", 4, 2),    // cell dedup + band-blocked pair aggs
    ("q_rbo", 1, 1),               // part agg; rank windows + depth bc
    ("q_tpch_forecast_revenue", 0, 0), // pure scan-filter-agg, pushed
    ("q_tpch_priority", 1, 1),     // left-semi residual; orders bc side
    ("q_tpch_small_qty", 1, 2),    // ONE lineitem shuffle; brand/thr bc
    ("q_cdc_replay", 1, 0),        // ONE key shuffle for all windows
    ("q_pit_features", 1, 0),      // union + ONE user window, no join
    ("q_leakage_audit", 2, 1),     // (u, day)-bucketed join; labels bc
    ("q_srm_check", 2, 0),         // unit dedup + experiment rollup
    ("q_autocomplete_topk", 2, 0), // word agg + prefix top-k window
    ("q_seasonal_anomaly", 0, 1),  // residuals checkpointed; MAD bc
    ("q_event_study", 1, 1),       // ONE rel-month agg; customers bc
    ("q_weighted_quantile", 3, 0), // order-count agg + seg windows
    ("q_position_attribution", 2, 0), // user window + channel rollup
    ("q_cohort_ltv", 4, 1),        // cohort min + cell agg + age window
    ("q_negative_sampling", 2, 2), // pos dedup + anti-join; counts bc
    ("q_curriculum_order", 4, 2),  // range rank (2 plan copies, reused at runtime) + pid agg + decile agg; offs/tot bc
    ("q_bandit_regret", 4, 1),     // day×arm grid windows; best arm bc
    ("q_delta_encoding", 1, 0),    // ONE user shuffle: lag + rollup
    ("q_dp_histogram", 1, 0),      // ONE segment agg; noise is scalar
    ("q_goertzel_power", 2, 1),    // 24-row profile; freq spine bc
    ("q_critical_slack", 4, 1),    // two DAG sweeps + join; horizon bc
    ("q_pinball_loss", 4, 1),      // fit windows; predictors broadcast
    // round-8 batches (67..80)
    ("q_influence_seeds", 0, 0),   // adj checkpointed; greedy steps tiny
    ("q_od_gravity", 4, 6),        // lag window + OD cells; margins bc
    ("q_rendezvous_rebalance", 2, 1), // key dedup + HRW windows
    ("q_itemset3", 5, 1),          // basket dedup + triple joins; tot bc
    ("q_blocking_quality", 0, 2),  // blocked join; scalar sides bc
    ("q_golden_record", 2, 0),     // version union + entity rollup
    ("q_median_polish", 0, 0),     // 168-cell grid checkpointed sweeps
    ("q_log_odds_words", 0, 1),    // counts checkpointed; totals bc
    ("q_pacf", 2, 1),              // day agg + lead window; totals bc
    ("q_mahalanobis_diag", 2, 1),  // per-order agg + topk; moments bc
    ("q_cronbach_alpha", 1, 0),    // ONE per-order agg then scalar row
    ("q_vif", 1, 0),               // ONE per-order agg then scalar row
    ("q_wilcoxon_signed", 1, 1),   // pair join bc; |d|-cell agg feeds the rank window
    ("q_friedman_test", 1, 2),     // grid agg + block ranks; sums bc
    ("q_siegel_slope", 1, 1),      // bounded day pairs; medians windows
    ("q_tokenizer_fertility", 1, 0), // ONE lang rollup
    ("q_perplexity_filter", 2, 2), // NLL checkpointed; score-cell agg for thr; thr bc
    ("q_kcenter_coreset", 0, 0),   // pts checkpointed; rounds broadcast
    ("q_block_dedup", 2, 0),       // block explode + source rollup
    ("q_tombstone_gc", 1, 1),      // ONE key window; watermark bc
    ("q_idempotent_ingest", 2, 0), // (producer,seq) window + rollup
    ("q_emd_1d", 2, 1),            // bin agg + cum window; totals bc
    ("q_set_churn", 3, 2),         // month dedup + adjacency joins
    ("q_dispersion_index", 2, 0),  // day agg + type moments
    ("q_hill_tail", 0, 1),         // global top-k + bc reference
    ("q_katz_centrality", 0, 0),   // edges checkpointed; rounds tiny
    ("q_wls_slope", 1, 0),         // ONE weighted moment aggregate
    ("q_bitmap_intersect", 3, 3),  // word bitmaps + pair AND; sizes bc
    ("q_var_es", 2, 1),            // daily agg + keyed windows; VaR bc
    ("q_robust_shape", 2, 0),      // seg rank window + octile union
    ("q_iv_wald", 1, 1),           // spend agg; ONE scalar moment row
    ("q_reg_discontinuity", 4, 3), // side moments; scalar cross join
    ("q_permutation_test", 2, 1),  // split explode + k rollup
    ("q_subgroup_discovery", 1, 1),// cell rollup; threshold/totals bc
    ("q_conformal", 2, 3),         // split aggs; fit/qhat broadcast
    ("q_rate_volume_decomp", 4, 2),// year cells + seg self-join
    ("q_newsvendor", 2, 1),        // daily demand + quantile; q* bc
    ("q_price_index", 2, 1),       // part-year agg + basket moments
    ("q_raking", 6, 2),            // cell/margin aggs + margin windows
    ("q_watermark_advisor", 4, 3), // HWM window + percentile picks
    ("q_smape_eval", 4, 0),        // day agg + 2 lag-window passes
    ("q_sla_attainment", 2, 1),    // ship agg + keyed quantile; p90 bc
    // round-8 batches (81..86)
    ("q_smote_midpoints", 3, 3),   // minority pairs; class pick bc
    ("q_ood_margin", 6, 2),        // centroid build + bc distance scan
    ("q_isotropy", 2, 3),          // gram agg + dims² Rayleigh frames
    ("q_qq_map", 0, 1),            // docs checkpointed; ladder windows
    ("q_energy_distance", 1, 0),   // value-cell agg feeds the gap sweep
    ("q_cvm_test", 1, 0),          // value cells + merged sweep
    ("q_circular_stats", 1, 0),    // ONE type rollup over literal trig
    ("q_morans_i", 0, 2),          // band axis checkpointed; adj join bc
    ("q_conductance", 0, 0),       // edges checkpointed; 3 cut scans
    ("q_discounted_ltv", 3, 1),    // cohort min + weighted rollup
    ("q_winnowing", 2, 1),         // gram explode + doc windows
    ("q_capture_recapture", 2, 1), // ONE (et,u) collapse + type rollup
    ("q_group_sequential", 0, 0),  // units checkpointed; 4 scalar looks
    ("q_adf_lite", 2, 0),          // day agg + keyed lag window
    ("q_theil_index", 4, 3),       // member log terms; margins bc
    ("q_lognormal_fit", 2, 1),     // log moments + positional median
    ("q_block_maxima", 2, 0),      // day agg + month max + scalar row
    ("q_jackknife_groups", 4, 3),  // nation cells; totals broadcast
    ("q_median_ci", 0, 2),         // ranked axis checkpointed; picks bc
    ("q_abc_xyz", 5, 0),           // revenue + variability rollups
    ("q_fleiss_kappa", 0, 0),      // ONE scan → scalar moment row
    ("q_bollinger", 1, 0),         // day agg + ONE trailing window
    ("q_pettitt", 1, 1),           // bounded day pairs + cum window
    ("q_turning_points", 1, 0),    // day agg + lag/lead + scalar row
    ("q_growth_share", 1, 0),      // checkpointed brand axis + pair max
    ("q_kendall_w", 2, 1),         // brand agg + three rank windows
    ("q_smr", 3, 1),               // unit frame + cells; rates broadcast
    ("q_mediation", 2, 1),         // order agg + z-group moment rows
    ("q_treatment_heterogeneity", 1, 1), // ONE seg moment agg; pool bc
    ("q_rate_ratio_test", 1, 1),   // type rollup; midpoint broadcast
    ("q_ts_discord", 1, 1),        // week pivot; pair scan post-bc
    ("q_max_subarray", 2, 1),      // day agg + prefix windows; tot bc
    ("q_tversky", 7, 0),           // basket dedup + index join + sizes
    ("q_holt_smooth", 2, 2),       // month agg + pivot agg; tot/steps bc
    ("q_es_reservoir", 0, 0),      // pure projection + TakeOrdered
    ("q_first_per_key", 1, 0),     // ONE keyed struct-min aggregate
    ("q_mg_guarantee", 4, 1),      // (k,v) agg (2 plan copies) + k tot + rank window
    ("q_ddsketch_accuracy", 6, 1), // sketch agg + value-cell agg + cum window per percentile leg (plan copies; runtime-reused)
    ("q_kmv_set_ops", 2, 3),       // token distinct; sketches checkpointed, stats bc
    ("q_interval_left_outer", 2, 1), // two side shuffles; range pred in-group
    ("q_matrix_profile", 1, 1),    // day agg; non-equi pair join broadcasts
    ("q_mp_motif", 0, 1),          // windows ride the checkpointed axis
    ("q_split_leakage", 4, 1),     // shingle distinct + index join + split rollups
    ("q_vocab_coverage", 0, 1),    // freq/rank checkpointed; budgets re-scan it
    ("q_betweenness_sampled", 26, 1), // 15-seed BFS relaxation rounds (fixed depth 10)
    ("q_bucketed_join", 0, 1),     // ZERO shuffles: the bucketed-layout property
    ("q_rendezvous_shards", 0, 0),   // ONE projection + one scalar agg — no shuffle
    ("q_rendezvous_weighted", 1, 1), // shard rollup agg; total bc
    ("q_dedup_canonical", 1, 1),     // cluster argmax agg over checkpointed CC labels
    ("q_rank_percentile", 2, 2),     // ONE range layout (checkpointed) + count agg; targets bc
    ("q_good_turing", 0, 2),         // species counts checkpointed; tiny ff axis + totals bc
    ("q_distinct_n", 2, 0),          // per-source distinct expand + final agg
    ("q_hilbert_layout", 2, 0),      // cell agg + d-bucket agg; hilbert fold is in-row
    ("q_page_hinkley", 1, 0),        // day agg; PH windows ride the bounded day axis
    ("q_grubbs", 2, 1),              // day agg + moment rollup broadcast
    ("q_chao1", 2, 0),               // species counts + per-source rollup
    ("q_seq_patterns", 3, 2),        // firsts checkpointed; pair agg + distinct; totals bc
    ("q_cooks_distance", 0, 1),      // day axis checkpointed; moments broadcast
    ("q_mcnemar", 1, 0),             // user rollup; global agg is SinglePartition
    ("q_cohen_kappa", 2, 1),         // margins join over checkpointed cells; rc bc
    ("q_brier", 1, 2),               // user-week frame checkpointed; rates+fallback bc
    ("q_youden", 0, 1),              // score axis checkpointed; totals bc; ROC on bounded axis
    ("q_ece", 2, 2),                 // test-bin rollup; rates+fallback bc
    ("q_js_source", 3, 3),           // (source,word) counts checkpointed; margins bc; grid agg
    ("q_neyman", 0, 1),              // stratum frame checkpointed; ΣN·S bc
    ("q_mcc", 1, 0),                 // user rollup; global agg is SinglePartition
    ("q_durbin_watson", 2, 1),       // day rollup + bounded-axis lag window; totals bc
    ("q_cochran_q", 1, 0),           // user rollup; margins in one global agg
    ("q_getis_ord", 0, 1),           // band axis checkpointed; moments bc; RANGE window
    ("q_triad_census", 2, 5),        // canonical edges checkpointed; wedge joins bc'd scalars
    ("q_rmst", 0, 1),                // KM axis checkpointed; integral on bounded spine
    ("q_hodges_lehmann", 0, 3),      // (et,day) axis checkpointed; 30×30 grid bc'd
    ("q_mood_median", 0, 2),         // same axis; median scalar + n bc
    ("q_icc", 1, 1),                 // nation rollup; customer side broadcast
    ("q_cramers_v", 3, 3),           // cell rollup + 125-cell margin joins, all bc
    ("q_eoq", 1, 1),                 // brand rollup; part side broadcast
    ("q_page_trend", 1, 0),          // user rollup; L in one global agg
    ("q_ripley_k", 0, 0),            // band axis checkpointed; 3 radii one pass
    ("q_ansari_bradley", 0, 1),      // (et,day) axis checkpointed; n bc
    ("q_chunk_ttr", 3, 0),           // (doc,chunk) rollup + distinct + lang axis
    ("q_xbar_r", 2, 0),              // day rollup + week rollup; limits one agg
    ("q_dixon_q", 0, 1),             // nation axis checkpointed; n bc
    ("q_sn_scale", 2, 3),            // day axis checkpointed; 30×29 grid + 2 medians
    ("q_seasonal_mk", 1, 2),         // (y,m) rollup; pair grid + var axis bc
    ("q_kz_filter", 0, 0),           // day rollup checkpointed; 2 RANGE passes
    ("q_burrows_delta", 1, 1),       // z grid checkpointed; pair side bc; top-10 axis
    ("q_gopher_rules", 3, 0),        // (doc,w) rollup → doc rollup → lang axis
    ("q_gram_coverage", 4, 1),       // grams checkpointed; gram rollup + join + lang distinct
    ("q_rake_keywords", 2, 1),       // tok checkpointed; plen rollup bc'd into word agg
    ("q_jonckheere", 1, 1),          // grid checkpointed; pair grid bc; moment rollup
    ("q_brown_forsythe", 2, 0),      // grid checkpointed; rank window + deviation rollup
    ("q_cochran_armitage", 1, 0),    // one exposure-axis rollup + scalar close
    ("q_ljung_box", 1, 2),           // cen checkpointed; lag join + den/tot bc
    ("q_hampel", 3, 1),              // daily checkpointed; two median rank passes
    ("q_variance_ratio", 0, 1),      // per-axis checkpointed; base row bc
    ("q_holm_step", 0, 1),           // nation axis checkpointed; pooled bc
    ("q_tukey_hsd", 0, 1),           // per-group axis checkpointed; pool bc
    ("q_mantel_haenszel", 1, 2),     // customer join bc'd; one strat rollup
    ("q_home_work", 2, 1),           // modal axis checkpointed; anchor join + rollup
    ("q_flow_imbalance", 2, 0),      // transitions checkpointed; in/out full join
    ("q_jump_lengths", 0, 1),        // bucket axis checkpointed; total bc
    // round-9 batch (126..142)
    ("q_fill_rate", 1, 2),           // ONE brand rollup; orders+part bc
    ("q_otif", 2, 1),                // order rollup + priority axis; part bc
    ("q_mrr", 1, 0),                 // ONE order-keyed rank+argmin shuffle
    ("q_degree_entropy", 2, 0),      // edge distinct + degree rollup only
    ("q_table_fingerprint", 1, 0),   // ONE month rollup, commutative aggs
    ("q_luhn_check", 1, 0),          // ONE priority rollup; checksum in codegen
    ("q_peak_to_mean", 2, 0),        // hour profile + type rollup
    ("q_new_vs_repeat", 2, 1),       // first-month agg bc'd into month rollup
    ("q_mld", 2, 1),                 // spend agg + nation rollup; customer bc
    ("q_palma_ratio", 1, 0),         // spend agg; rank on post-agg axis
    ("q_basket_diversity", 3, 2),    // brand cell + customer + decile rollups
    ("q_mode_per_group", 2, 4),      // nation-brand cell + argmax; 4 dims bc
    ("q_user_overlap_types", 3, 3),  // type-user distinct + pair agg; sizes bc
    ("q_detour_ratio", 1, 0),        // ONE user-day shuffle: lag+frame+rollup
    ("q_trip_stats", 2, 0),          // user-day fold + bounded trip axis
    // round-9 final session (147..150)
    ("q_panel_fe", 7, 3),            // cell agg + 3 bc'd mean frames
    ("q_synth_control", 4, 4),       // fixed nation grid; weights bc
    ("q_placebo_gaps", 4, 2),        // weights checkpointed + bc twice
    ("q_textrank", 0, 0),            // rank rounds checkpointed away
    ("q_louvain_pass", 3, 4),        // adjacency+degree checkpointed, bc joins
    ("q_theta_forecast", 2, 0),      // daily rollup + keyed fold share key
    ("q_knn_grid_join", 1, 1),       // probes bc into cell join; ONE rank shuffle
    ("q_knn_regress", 1, 1),         // same candidates; rank+agg share qid
    ("q_heading_octants", 5, 1),     // user window + octant rollup + share join
    ("q_forecast_reconcile", 3, 5),  // dims bc; nation agg + region rollup
    ("q_safety_stock", 6, 2),        // part bc; day rollup + 2 brand windows
    ("q_cross_elasticity", 9, 6),    // brand-month cells; top-3 + lag + pair join
    ("q_littles_law", 1, 1),         // order-ship rollup bc'd; one scalar agg
    ("q_quadtree_cells", 0, 5),      // leaf+levels checkpointed; parents bc
    ("q_ar2_forecast", 5, 5),        // day axis checkpointed; moments bc
    ("q_competing_risks", 3, 1),     // duration axis checkpointed; tot bc
    ("q_recurrent_mcf", 5, 5),       // two bounded-axis rollups + sweep union
    ("q_lexis_surface", 4, 2),       // user first-week rollup; cohort bc
    ("q_woe_iv", 4, 1),              // customer rollup + log-band cells
    ("q_two_hop_reach", 3, 2),       // adjacency checkpointed; wedge join
    ("q_var_backtest", 0, 5),        // bounded day axis checkpointed; vr bc
    ("q_shift_share", 2, 2),         // cell checkpointed; brand+nat rates bc
    ("q_nn_matching_att", 1, 2),     // customer rollup checkpointed; band join
    ("q_text_tiling", 4, 2),         // block counts checkpointed; 2 self-joins
    ("q_ivf_nprobe_curve", 2, 1),    // assign/cand checkpointed; sweep bc
    ("q_bradley_terry", 8, 1),       // 2 rank windows + 4 bounded rollups
    ("q_tree_depth2", 2, 4),         // base checkpointed; root + cands bc
    ("q_queue_waits", 2, 1),         // ONE class-keyed window chain + rank
    ("q_kmeans_inertia_curve", 4, 3),// per-round assigns checkpointed, cents bc
    ("q_vopt_hist", 2, 1),           // freq agg + bucket assign agg; bnds bc
    ("q_boost_stump", 0, 0),         // both stump rounds checkpointed one-rows
    ("q_ohlc_candles", 1, 0),        // BOTH rank windows + agg share ONE (sym,day) shuffle
    ("q_levene_bf", 1, 1),           // checkpointed z; 3-row group axis + bc total
    ("q_stl_lite", 2, 2),            // day agg + dow agg; seasonal bc'd back
    ("q_calinski_harabasz", 3, 3),   // explode ckpt; centroid aggs; 3 tiny bc
    ("q_logit_step", 0, 0),          // both GD steps checkpointed one-rows
    ("q_huber_mean", 0, 0),          // IRLS rounds checkpointed one-rows
    ("q_ransac_line", 1, 2),         // pts ckpt; TakeOrdered seeds; cands bc
    ("q_viterbi_maxplus", 0, 2),     // doubling rounds checkpointed; P + nd bc
    ("q_agglo_merge", 1, 4),         // 25-row centroid axis; pairs/best all bc
    ("q_dunn_index", 2, 3),          // explode ckpt; centroid agg; tiny bc
    ("q_edit_blocked_join", 0, 2),   // distinct-name axis ckpt'd; bc pairs
    ("q_cox_score", 1, 1),           // ONE duration agg; suffix walk on axis
    ("q_meta_fixed", 0, 1),          // nation axis ckpt'd; pooled bc
    ("q_viterbi_path", 0, 3),        // scans checkpointed; pfx/sfx/v0 bc
    ("q_ipw_att", 1, 1),             // one stratum agg; customer dim bc
    ("q_local_morans", 1, 2),        // band axis ckpt'd; ONE nb agg; tot+zz bc
    ("q_gearys_c", 0, 2),            // band axis ckpt'd; adjacency on 34 rows
    ("q_join_counts", 0, 2),         // band axis ckpt'd; rook pairs tiny
    ("q_ridge_path", 0, 1),          // ONE moment pass; λ grid broadcast
    ("q_bullwhip", 4, 1),            // 2 monthly rollups ×2 stages; yr bc join
    ("q_p_chart", 0, 1),             // month axis ckpt'd; pooled p̄ bc
    ("q_ams_f2", 1, 1),              // sketch pass shuffle-free; exact F2 agg
    ("q_fd_audit", 6, 1),            // 2 keyed aggs per FD ×3; part dim bc
    ("q_hellinger_tv", 3, 0),        // src×lang axis ckpt'd; tiny pair join
    ("q_rank_distance", 0, 1),       // 25-brand rank axis ckpt'd; pair join bc
    ("q_tost", 1, 0),                // ONE 2-group moment agg
    ("q_engle_granger", 0, 1),       // month axis ckpt'd; coef bc to residuals
    ("q_aipw_att", 2, 2),            // base ckpt'd; prop + μ0 maps broadcast
    ("q_poisson_irls", 2, 0),        // day agg + 2-class agg
    ("q_atkinson", 1, 0),            // ONE custkey rollup; log ladder narrow
    ("q_weibull_fit", 0, 0),         // ONE log-moment agg, ladder is narrow
    ("q_growth_accounting", 3, 3),   // (u,m) keyed joins; firstM broadcast
    ("q_tail_dependence", 1, 1),     // custkey rollup; rank axis post-agg
    ("q_qini_uplift", 1, 1),         // ONE band agg; cum window on band axis
    ("q_two_part_spend", 0, 1),      // seg rollup ckpt'd; decomp row tiny
    ("q_mice_step", 1, 1),           // base ckpt'd; per-seg fit broadcast
    ("q_ess_weights", 0, 0),         // stratum axis ckpt'd; tiny rollup
    ("q_smd_balance", 1, 1),         // base ckpt'd; stratum weights bc
    ("q_topsis_suppliers", 0, 1),    // supplier axis ckpt'd; bounds bc
    ("q_xi_correlation", 2, 1),      // custkey rollup; BOTH windows one seg key
    ("q_distance_corr", 3, 4),       // month axis ckpt'd; m² pairs bounded
    ("q_geometric_retention", 2, 1), // distinct (u,m) + lifetime agg; hz bc
    ("q_harrell_c", 3, 1),           // grid agg + band sfx + t-slice windows
    ("q_borda_brands", 6, 1),        // rank axis ckpt'd; duels on 25 brands
    ("q_sharpe_sortino", 1, 0),      // ONE month agg; lag on visible axis
    ("q_lot_sizing", 0, 5),          // month DAG ckpt'd; 7 squarings tiny
    ("q_gpd_fit", 1, 1),             // cents axis ckpt'd; threshold bc
    ("q_taguchi_loss", 1, 1),        // ONE brand agg; part dim bc
    ("q_sinkhorn_plan", 2, 2),       // marginal aggs; 25-cell scaling tiny
    ("q_cochrane_orcutt", 0, 3),     // month axis ckpt'd; ols/ρ bc chain
    ("q_handshake_matching", 0, 3),  // edge frame + rounds all ckpt'd
    ("q_duane_growth", 1, 0),        // ONE month agg; ladder regression
    ("q_zero_inflation", 2, 1),      // distinct cells + marginals agg
    ("q_lins_ccc", 0, 1),            // ONE moment agg; part dim bc
    ("q_bland_altman", 0, 1),        // diff axis ckpt'd; limits bc
    ("q_h_index", 2, 0),             // (supp,part) agg + supp rank window
    ("q_centralization", 3, 0),      // distinct edges + degree + rollup
    ("q_price_points", 1, 1),        // cents axis ckpt'd; total bc
    ("q_harrell_band_sweep", 4, 2),  // 3-width grid agg + band/t windows
    ("q_sinkhorn_gibbs", 2, 2),      // marginal aggs; ladder kernel tiny
    ("q_kemeny_objective", 5, 0),    // duels ckpt'd; 3 order windows tiny
    ("q_tarone_z", 2, 1),            // part agg + score agg; totals bc
    ("q_press_loocv", 0, 1),         // base ckpt'd; ONE moment pass bc back
    ("q_mincer_zarnowitz", 1, 0))    // ONE month agg; lag on visible axis

  expected.foreach { case (q, maxEx, minBc) =>
    test(s"$q plan shape: ≤$maxEx exchanges, ≥$minBc broadcasts") {
      val f = RegistryWalk.facts(sf(), q)
      assert(f.exchanges <= maxEx, s"$q gained a shuffle: ${f.exchanges} exchanges (max $maxEx)")
      assert(f.broadcasts >= minBc, s"$q lost a broadcast: ${f.broadcasts} (min $minBc)")
    }
  }
}
