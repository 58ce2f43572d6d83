"""Degenerate-input resilience: every registry query family must survive
EMPTY source tables without raising (a fresh deployment, a filtered-out
partition, a source that produced no rows this tick). Results may be 0 rows
or all-null scalars -- the contract is no exception and a stable schema."""

import pytest
from pyspark.sql.types import StructType

from pgsf_spark.analytics.registry import QUERIES
from pgsf_spark.tables import TABLES

# one representative per family (keeps the sweep fast; plans differ only by
# constants within a family)
REPRESENTATIVE = [
    "pricing_summary",  # scan-agg
    "revenue_by_nation",  # star join
    "min_cost_supplier",  # correlated min + window
    "waiting_suppliers",  # quantifier-as-aggregate
    "important_parts",  # scalar-subquery threshold
    "top_orders_per_customer",  # window rank
    "dedup_exact",  # fingerprint groupBy
    "minhash_lsh_pairs",  # LSH candidate generation
    "dedup_canonical",  # clusters + canonical selection
    "incremental_dedup",  # cross-batch anti-join
    "vocab_coverage",  # top-K broadcast membership
    "cosine_topk",  # brute-force ANN
    "embedding_dim_stats",  # posexplode profile
    "kmv_set_algebra",  # sketch algebra
    "neyman_allocation",  # stratified moments
    "sessionize",  # event-time windows
    "event_funnel",  # chained conditional aggs
    "training_manifest",  # composed pipeline
    "quality_filter",  # projection gate
    "temperature_sample",  # hash-ranked sampling
    # round-4 additions
    "bpe_vocab_rounds",  # iterative trainer loop (empty -> empty merge table)
    "kcore_summary",  # iterative peel (empty -> zero-core row)
    "dq_constraint_report",  # single-pass constraint aggregates
    "bloom_join_gate",  # bloom build over zero keys + prefiltered join
    "pq_recall_at_5",  # codebook literal from zero seed vectors
    "prefix_filter_pairs",  # bitmask-vocab branch with empty vocab
    "bootstrap_ci",  # replica means over zero rows
    "feature_hash_agg",  # hashed features of an empty corpus
    "snapshot_diff_gate",  # full-outer diff of two empty sides
    # round-4 late additions
    "bm25_topk",  # idf/avgdl stats over zero docs
    "hybrid_rrf_topk",  # full-outer fusion of two empty rank lists
    "zorder_skipping_gate",  # min/max stats over zero files
    "decayed_user_score",  # decay weights over zero events
    "source_signature_terms",  # class tf-idf with zero classes
    "quality_classifier_gate",  # gradient sums over zero docs -> null weights
    "doc_perplexity",  # bigram LM over an empty corpus
    "dsir_weights",  # likelihood ratios with zero-count models
    "k_anonymity_audit",  # class rollup over zero records
    "dp_segment_counts",  # noisy release of zero segments
    "ann_ndcg_gate",  # ranking eval with empty ANN and exact lists
    "bucketed_join_gate",  # bucketed catalog write + join of zero rows
    # round-4 second continued session
    "event_transitions",  # lead window over zero events
    "hourly_gap_interpolation",  # spine from null min/max bounds
    "repeated_passages",  # closed n-grams of an empty corpus
    "bigram_lift",  # marginal totals of zero tokens
    "semantic_dedup",  # k-means seeded from zero vectors
    "brand_pareto_frontier",  # skyline windows over zero parts
    "join_key_skew",  # quantiles of an empty key-frequency table
    "ivm_join_gate",  # bootstrap + refresh over zero orders
    "image_ahash_neardup",  # banded join over zero images
    "basket_lift",  # basket self-join over zero lineitems
    "last_touch_attribution",  # lookback windows over zero purchases
    "pseudonymize_gate",  # token audit of zero customers
    "referential_integrity_audit",  # anti-joins of empty parents/children
    "event_state_intervals",  # islands over an empty timeline
    "ivfpq_recall_at_5",  # coarse+residual index from zero seed vectors
    "dedup_pipeline_summary",  # funnel counts over an empty corpus
    "asof_next_purchase_after_click",  # forward as-of over zero events
    "time_to_convert",  # quantiles over zero conversions
    "triplet_margin_stats",  # bucket pairs over zero vectors
    "revenue_anomaly_days",  # FIR forecast over an empty series
    "segment_overlap_matrix",  # pair overlap of zero segments
    "dau_wau_stickiness",  # spine from null day bounds
    # round-4 third continued session
    "range_band_join",  # bucket-expansion join of zero points/ranges
    "record_linkage",  # blocked fuzzy match over zero customers
    "rolling_median_revenue",  # RANGE-frame median over an empty series
    "pit_state_join",  # PIT join onto zero state intervals
    "incremental_lsh_dedup",  # new-vs-old banding with both sides empty
    "jpeg_decode_gate",  # zero media ids -> zero synthesized JPEGs
    "cube_status_priority",  # grouping sets over zero orders
    "training_shard_order",  # per-shard windows over zero docs
    "source_token_budget",  # budgets/cumsums over zero sources
    "corpus_datasheet",  # one-row datasheet of an empty corpus
    "rfm_segments",  # ntile quintiles over zero customers
    "cusum_changepoints",  # alarm summary of an empty series
    "pca_top_component",  # covariance cells from zero vectors
    "conversion_hazard",  # risk set over zero users
    "feature_psi",  # reference deciles from zero orders
    "ab_test_zscore",  # welch t over zero users
    "ab_cuped_gate",  # covariate adjustment over zero users
    "gini_spend",  # rank weights over zero customers
    "benford_audit",  # digit histogram of zero orders
    "zipf_fit",  # OLS over zero tokens
    "source_js_divergence",  # JS over zero sources
    "ks_test_gate",  # ECDFs over zero orders
    "mann_kendall_trend",  # pairwise signs over zero days
    "theil_sen_slope",  # pairwise slopes over zero days
    # round-5 statistics/graph/retrieval additions
    "acf_daily_revenue",  # per-lag dot products over an empty series
    "stratified_kfold",  # fold round-robin over zero docs
    "cascade_erasure_audit",  # blast radius of zero victims
    "roc_auc_quality",  # rank-sum AUC over zero docs
    "markov_stationary",  # power iteration over zero transitions
    "adamic_adar_links",  # two-hop join over zero edges
    "label_propagation",  # vote rounds over zero seeds
    "seasonality_strength",  # ANOVA over zero days
    "isotonic_calibration",  # PAVA triples over zero bins
    "ipf_raking",  # raking rounds over an empty contingency table
    "mmr_diversified_topk",  # greedy rounds over an empty pool
    "wasserstein_drift",  # ECDF area with both samples absent
    "huber_mean",  # IRLS rounds over zero docs
    "sprt_decision",  # LLR path over zero days
    "late_arrival_audit",  # lateness windows over zero events
    "quantile_regression",  # subgradient rounds over zero docs
    # round-6 additions
    "spearman_trend",  # doubled ranks over zero days
    "chi_square_independence",  # margin grid of zero cells
    "hits_hubs_authorities",  # mass rounds over zero edges
    "lsh_recall_audit",  # audit sample from an empty corpus
    "negative_samples",  # anchors x pool with both empty
    "stl_decomposition",  # trend/seasonal split of an empty series
    "exact_median_refinement",  # refinement from null (lo, hi, k) state
    "target_encoding_oof",  # cell algebra over zero orders
    "weighted_sample_topk",  # ES keys over zero docs
    "nation_revenue_ols",  # grouped moments over zero orders
    "cohort_ltv",  # cohort grid over zero events
    "event_trigrams",  # lead windows over zero events
    "ams_f2_sketch",  # sign projections over zero tokens
    "l_diversity_audit",  # class rollup over zero customers
    "binary_segmentation_split",  # argmax split of an empty series
    "ipw_effect",  # weighted sums over zero customers
    "trimmed_mean_chars",  # rank trim over zero docs
    "matryoshka_recall",  # query panel over zero vectors
    "personalized_pagerank",  # teleport rounds over zero seeds/edges
    "cohens_kappa",  # 2x2 table over zero docs
    "bpe_fertility_by_source",  # merge table trained on zero words
    "join_size_estimate",  # sketch inner product over zero keys
    "decile_lift_table",  # ntile deciles over zero customers
    "kaplan_meier",  # log-survival over zero users
    # round-7 additions
    "t_closeness_audit",  # EMD grid over zero customers
    "log_rank_test",  # hypergeometric day terms over zero users
    "cliffs_delta",  # midrank identity over zero orders
    "fd_violation_audit",  # g3 rollup over four empty dependencies
    "brier_decomposition",  # train/eval bins with both splits empty
    "fleiss_kappa",  # unanimity counts over zero docs
    "mrr_gate",  # query panel of zero vectors
    "benjamini_hochberg",  # step-up over an empty test family
    "heavy_hitters_cms_verified",  # sketch collect + verify over zero tokens
    "ewma_control_chart",  # truncated kernel over an empty day spine
    "degree_powerlaw_fit",  # ln-sum over zero degrees
    "embedding_outlier_mahalanobis",  # per-dim moments over zero vectors
    "graph_modularity",  # community terms over zero edges
    "conformal_interval_gate",  # residual quantile over an empty series
    "knn_label_accuracy",  # vote windows over an empty panel
    "mad_robust_scale",  # two refinement chains over zero orders
    "obrien_fleming_looks",  # cumulative looks over zero events
    "kcenter_coreset",  # greedy rounds with no seed vector
    "markov_next_event_accuracy",  # model trained on zero transitions
    "gumbel_maxima_fit",  # moments over an empty maxima series
    "revenue_var_es",  # tail quantile over zero diffs
    "cross_source_leakage",  # source joins over zero verified pairs
    "jaccard_threshold_histogram",  # bucket cumsum over zero candidates
    "sq_mse_by_bits",  # range table from zero vectors
    "overdispersion_check",  # moments over zero users
    "categorical_mutual_information",  # cell table with zero rows
    "hurst_exponent",  # R/S blocks over an empty day spine
    "difference_in_differences",  # cell means over zero users
    "wald_iv_estimate",  # two-cell means over zero users
    "regression_discontinuity",  # side fits over zero customers
    "dedup_source_shift",  # survivor mix over zero docs
    "split_balance_ks",  # ECDF compare over zero docs
    "geo_nearest_neighbor",  # 3x3 cell probe over zero points
    "geo_density_grid",  # cell rollup over zero points
    "langid_macro_f1",  # confusion rollup over zero docs
    "ecod_outliers",  # per-dim ECDFs over zero vectors
    "kendall_tau_daily",  # sign pairs over an empty day spine
    "token_burstiness",  # dispersion over zero tokens
    "degree_assortativity",  # edge moments over zero edges
    "bfs_reachability_probe",  # frontier rounds over zero probes
    "dedup_loss_weights",  # cluster weights over zero docs
    "retention_halflife",  # decay fit over zero cohorts
    "price_elasticity_proxy",  # log-log moments over zero parts
    "topk_stability_audit",  # half-split top-k over zero docs
    "calinski_harabasz_index",  # variance ratio over zero vectors
    "silhouette_panel",  # panel distances over zero vectors
    "market_basket_rules",  # basket self-join over zero lineitems
    "pmi_collocations",  # bigram zip over zero documents
    "runs_test_daily",  # run-length lag over an empty day spine
    "jackknife_se_nation",  # leave-one-out means over zero nations
    "ljung_box_stat",  # portmanteau terms over an empty day spine
    "yule_k_lexical",  # frequency-spectrum moments over zero tokens
    "shapley_attribution",  # coalition table over zero users
    "nelson_aalen_hazard",  # hazard increments over zero users
    "randomization_test_chars",  # replicate spine over zero docs
    "readability_panel",  # in-row syllable algebra over zero docs
    "durbin_watson",  # lag-diff ratio over an empty day spine
    "transition_entropy",  # entropy terms over zero transitions
    "mcnemar_filters",  # 2x2 cells over zero docs
    "heaps_law_fit",  # log-log OLS over zero sources
    "pettitt_changepoint",  # pairwise signs over an empty day spine
    "jarque_bera_daily",  # standardized powers over an empty series
    "source_hhi",  # share squares over zero sources
    "price_index_fisher",  # two-year basket join over zero lineitems
    "interarrival_burstiness",  # gap moments over zero events
    "embedding_effective_rank",  # covariance cells from zero vectors
    "corpus_novelty_curve",  # gram first-buckets over zero docs
    "cramer_von_mises",  # pooled ECDF gaps over zero orders
    "hampel_outlier_days",  # window medians over an empty day spine
    "negative_binomial_fit",  # count moments over zero users
    "char_entropy_bits",  # alphabet rollup over zero docs
    "ship_latency_profile",  # latency spine over zero lineitems
    "wilson_pass_rate_ci",  # interval algebra over zero sources
    "theil_atkinson_inequality",  # inequality terms over zero customers
    "daily_growth_profile",  # lag ratios over an empty day spine
    "hourly_uniformity_chi2",  # 24-bin spine over zero events
    "video_frame_sample_gate",  # zero media ids -> zero sampled frames
    "rbo_topk_stability",  # depth spine over two empty lists
    "james_stein_nation_means",  # shrinkage over zero nations
    "good_turing_unseen",  # frequency-of-frequencies over zero tokens
    "pr_auc_quality",  # PR steps over zero docs
    "best_f1_threshold",  # threshold sweep over zero docs
    "bradley_terry_strengths",  # MM rounds over a zero win matrix
    "dpo_preference_pairs",  # argmax/argmin windows over zero docs
    "kneser_ney_continuation",  # context counts over zero bigrams
    "burrows_delta",  # z-score panel over zero sources
    "quantile_normalization_map",  # decile ladders over zero docs
    "auc_by_fold",  # per-fold midranks over zero docs
    "dup_cluster_powerlaw",  # size MLE over zero clusters
    "rich_club_coefficient",  # threshold panel over zero edges
    "shard_rebalance_audit",  # ring lookups over zero docs
    "simpson_paradox_probe",  # per-nation OLS over zero lineitems
    "hll_merge_by_day",  # register roll-forward over zero events
    "median_ci_order_stats",  # order-stat brackets over zero orders
    "lineitem_correlation_matrix",  # 14 moments over zero lineitems
    "query_likelihood_topk",  # smoothed LM over zero candidates
    "g_test_independence",  # o ln(o/e) grid over zero customers
    "chi2_residuals_topk",  # residual map over zero customers
    "ab_effect_size",  # pooled-SD algebra over zero users
    "ab_equivalence_tost",  # TOST z's over zero users
    "conversion_paths_topk",  # lag paths over zero events
    "salted_aggregate_gate",  # two-phase combine over zero lineitems
    "reorder_interval_profile",  # gap spine over zero orders
    "revenue_concentration_topk",  # bounded top-k over zero customers
    "price_variance_decomposition",  # brand moments over zero parts
    "embedding_dim_correlation_topk",  # covariance cells from zero vectors
    "dup_rate_by_source",  # fingerprint groups over zero docs
    "brand_share_shift",  # half-split shares over zero lineitems
    "discount_impact_by_brand",  # cents x bp products over zero lineitems
    "supplier_hhi_by_nation",  # supplier shares over zero lineitems
    "session_depth_profile",  # depth spine over zero events
    "basket_size_profile",  # size spine over zero lineitems
    "orthographic_profile",  # regexp counts over zero docs
    "stopword_ratio_by_source",  # literal panel over zero tokens
    "context_fill_efficiency",  # budget spine over zero docs
    "embedding_norm_profile",  # norm buckets over zero vectors
    "error_rate_daily_extremes",  # day rollup over zero events
    "order_value_iqr_by_nation",  # per-nation quartiles over zero orders
    "part_sourcing_profile",  # supplier histogram over zero lineitems
    "user_recency_segments",  # recency bands over zero users
    "transition_lift_topk",  # lift matrix over zero transitions
    "customer_spend_drift",  # half-split classify over zero customers
    "dup_quality_interaction",  # fingerprint join over zero docs
    "token_length_histogram",  # bounded length buckets over zero tokens
    "gram_frequency_coverage",  # threshold panel over zero bigrams
    "above_mean_concentration",  # integer threshold over zero customers
    "language_mix_by_source",  # argmax structs over zero docs
    "label_balance_audit",  # entropy terms over zero labels
    # semi-structured data and Python engine surfaces
    "variant_shred",  # VARIANT construction over zero orders
    "variant_typeof_profile",  # variant type rollup over zero docs
    "from_json_corrupt_gate",  # JSON parse of zero payloads
    "xml_shred_gate",  # XML round trip of zero rows
    "map_reshape_gate",  # map folds over zero rows
    "higher_order_chain",  # array lambdas over zero rows
    "udtf_bigram_topk",  # lateral UDTF fan-out of zero docs
    "arrow_map_profile",  # mapInArrow over an empty partition
    "statestore_read_gate",  # state store of a stream over zero events
    "python_datasource_gate",  # paged source over zero rows
    "python_cdc_stream_gate",  # CDC stream with no new data
    # Spark SQL language surfaces and chunked sinks
    "recursive_cte_closure",  # recursion seeded from zero customers
    "pipe_syntax_parity",  # pipe chain over zero orders
    "sql_udf_gate",  # SQL scalar UDF over zero rows
    "sql_table_udf_gate",  # SQL table UDF over zero rows
    "collation_gate",  # collated grouping over zero rows
    "observe_metrics_gate",  # observed metrics of an empty pass
    "chunked_sink_gate",  # chunked write of zero records
    "chunked_stream_sink_gate",  # stream sink epochs with zero records
    # sync, store and catalog gates
    "schema_drift_gate",  # drift replay over zero docs
    "integrity_quarantine_gate",  # quarantine of an empty landing
    "fleet_scheduler_gate",  # scheduler fleet over empty bases
    "snapshot_consistency_gate",  # pinned reads of empty versions
    "vacuum_retention_gate",  # GC over empty versions
    "cas_publish_gate",  # CAS publish of empty versions
    "curation_funnel_gate",  # funnel over an empty corpus
    "curation_funnel_incremental_gate",  # incremental funnel, empty batches
    "sosl_search_gate",  # OR-chain search over zero rows
    "query_pages_gate",  # paging through zero rows
    "cdc_id_scans_gate",  # CDC id windows over zero changes
    "compaction_gate",  # compaction of empty files
    "bootstrap_seed_gate",  # first load of zero rows
    "upload_results_gate",  # upload of zero records
    "catalog_snapshot_gate",  # catalog epochs over empty tables
    "fleet_catalog_wave_gate",  # wave commit over empty tables
    "cdf_changes_gate",  # change feed of empty versions
    "state_recovery_gate",  # recovery from an empty manifest trail
    "catalog_join_pin_gate",  # pinned join of empty tables
    "recovery_wave_gate",  # recovery then wave over empty tables
    "catalog_retention_gate",  # retention over empty epochs
    "maintenance_recovery_gate",  # compact, vacuum, recover over zero rows
]


# empty_sf_dir is the shared session fixture in tests/conftest.py


class TestEmptyInputs:
    @pytest.mark.parametrize("name", REPRESENTATIVE)
    def test_runs_on_empty_tables(self, spark, empty_sf_dir, name):
        df = QUERIES[name].fn(spark, empty_sf_dir)
        assert isinstance(df.schema, StructType) and len(df.schema) > 0
        rows = df.collect()  # must not raise
        assert isinstance(rows, list)
