"""Plan-shape assertions: the 100-TB scale contract as executable checks.

Correctness says a query returns the right rows; these tests pin HOW —
broadcasts where a dim is small, filters/projections reaching the parquet
scan, map-side partial aggregation, no row-at-a-time Python, no
nested-loop joins. A regression here means a plan that still passes the
oracle but would fall over at 1000x the data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
    catalog,
)
from tests.catalog_sweep import run_query


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(catalog.q_star_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_star_join_prunes_lineitem_columns(spark, sf_dir):
    plan = plan_of(catalog.q_star_join(spark, sf_dir))
    # the fact side must read only the 3 columns the query touches
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_star_join_aggregates_map_side(spark, sf_dir):
    plan = plan_of(catalog.q_star_join(spark, sf_dir))
    assert "partial_sum" in plan  # partial agg before the exchange


def test_q3_shape_pushes_date_filters_to_both_scans(spark, sf_dir):
    plan = plan_of(catalog.q_filter_join_topk(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(catalog.q_filter_isnotnull(spark, sf_dir))
    assert "PushedFilters: [IsNotNull" in plan


def test_projection_prunes_scan(spark, sf_dir):
    plan = plan_of(catalog.q_project(spark, sf_dir))
    assert "c_acctbal" not in plan  # untouched column never read


def test_empty_relation_folds_to_local(spark, sf_dir):
    plan = plan_of(catalog.q_empty_relation(spark, sf_dir))
    assert "LocalTableScan" in plan or "EmptyRelation" in plan
    assert "FileScan" not in plan  # the 1=0 stub must not scan anything


def test_orderby_limit_is_topk_not_global_sort(spark, sf_dir):
    plan = plan_of(catalog.q_orderby_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q_star_join",
        "q_groupby_agg",
        "q_distinct",
        "q_dedup_exact",
        "q_dedup_minhash",
        "q_dedup_simhash",
        "q_text_quality",
        "q_lang_id",
        "q_ngram_jaccard",
        "q_cosine_topk",
        "q_sessionize",
        "q_asof_join",
        "q_range_join",
        "q_window_tumbling",
        "q_stats_moments",
        "q_percentile_rank",
        "q_curation_pipeline",
        "q_snapshot_diff",
        "q_data_quality",
        "q_split_assign",
        "q_sample_stratified",
        "q_doc_fingerprint_rolling",
        "q_token_count_bpe",
        "q_window_frame",
        "q_null_safe_join",
        "q_filter_join_topk",
        "q_ntile_cume",
        "q_funnel_steps",
        "q_word_repetition",
        "q_tfidf_topk",
        "q_regex_extract",
        "q_salted_join",
        "q_decontaminate",
        "q_bigram_counts",
        "q_string_agg",
        "q_unpivot",
        "q_date_arith",
        "q_try_cast",
        "q_time_travel",
        "q_multimodal_chunks",
        "q_pii_redact",
        "q_chunk_dedup",
        "q_sequence_pack",
        "q_profile_table",
        "q_incremental_rollup",
        "q_cms_heavy_hitters",
        # round-6 session-2 batch additions
        "q_gopher_rules",
        "q_domain_cap",
        "q_bigram_lift",
        "q_mad_outlier",
        "q_fuzzy_join",
        "q_rolling_time_window",
        "q_transition_matrix",
        "q_corr_matrix",
        "q_ab_ttest",
        "q_unigram_perplexity",
        # round-6 session-3 batch additions
        "q_linreg",
        "q_interpolate_linear",
        "q_last_touch",
        "q_table_checksum",
        # round-6 session-4 batch additions
        "q_linreg_group",
        "q_char_entropy",
        # round-6 session-5 batch additions
        "q_skyline",
        "q_basket_rules",
        "q_triangle_count",
        "q_ohlc_bars",
        "q_rolling_dau",
        "q_rolling_dau_hll",
        "q_semantic_dedup",
        "q_bigram_perplexity",
        "q_scd2_asof_lookup",
        "q_vocab_coverage",
        "q_degree_distribution",
        "q_event_path_topk",
        # round-6 session-6 batch additions
        "q_prefix_filter_join",
        "q_token_budget_fill",
        "q_mixture_waterfill",
        "q_time_weighted_avg",
        "q_anova_f",
        "q_interval_coalesce",
        "q_scd3_merge",
        "q_tfidf_cosine_pairs",
        "q_seasonal_naive_mape",
        "q_logreg_gd",
        "q_k_anonymity",
        "q_epoch_reshard",
        "q_date_dim",
        "q_concurrency_sweep",
        "q_kcore",
        "q_hard_negatives",
        "q_negative_samples",
        "q_label_centroids",
        "q_gdpr_delete",
        "q_quarantine_split",
        # round-7 additions
        "q_pagerank_exact",
        "q_split_singleton_agreement",
        "q_incremental_distinct_exact",
        "q_ks_test",
        "q_gini",
        "q_target_encode_loo",
        "q_rfm",
        "q_autocorr",
        "q_kfold_assign",
        "q_minhash_containment",
        "q_benford_check",
        "q_survival_table",
        "q_bloom_filter",
        "q_changepoint",
        "q_cohort_ltv",
        "q_audience_overlap",
        "q_simhash_eval",
        "q_ab_cuped",
        "q_lorenz_deciles",
        "q_order_gaps",
        "q_readability",
        "q_weekday_decompose",
        "q_tokenizer_fertility",
        "q_mixture_temperature",
        "q_dataset_card",
        "q_cross_source_dups",
        "q_equi_depth_histogram",
        "q_sax_symbols",
        "q_join_cardinality_est",
        "q_lsh_recall_eval",
        "q_price_index",
        # round-8 additions (q_streaming_cdc_apply excluded: foreachBatch
        # runs side-effecting jobs; its batch twin q_cdc_apply is swept;
        # q_dup_cluster_size_dist / q_lsh_band_sweep excluded for runtime
        # — their building blocks q_dedup_clusters / q_minhash_lsh_pairs
        # are already covered)
        "q_spearman_corr",
        "q_kruskal_wallis",
        "q_roc_auc",
        "q_kendall_tau_daily",
        "q_herfindahl",
        "q_winsorized_mean",
        "q_abc_pareto",
        "q_mom_growth",
        "q_ngram_novelty",
        "q_vocab_overlap_sources",
        "q_rag_chunk_overlap",
        "q_reservoir_sample",
        "q_fifo_match",
        "q_null_skew_join",
        "q_funnel_windowed",
        "q_late_arriving_dim",
        "q_cumulative_distinct_daily",
        "q_decile_transition",
        "q_key_skew_profile",
        "q_doc_length_histogram",
        "q_embedding_norm_profile",
        "q_rolling_slope",
        "q_seasonality_strength",
        # round-8 batch 3
        "q_grouped_median",
        "q_cohens_kappa",
        "q_chi2_contingency",
        "q_ewma_dyadic",
        "q_max_drawdown",
        "q_local_clustering",
        "q_mips_topk",
        "q_knn_label_vote",
        "q_revenue_share_filter",
        "q_above_brand_avg",
        "q_acf_grid",
        "q_length_band_filter",
    ],
)
def test_no_python_in_batch_hot_paths(spark, sf_dir, name):
    """Batch operators must stay JVM-side: no row-at-a-time Python UDFs
    (BatchEvalPython) and no Pandas UDFs (ArrowEvalPython) anywhere in the
    relational/dedup/text/similarity plans. Python is allowed only at the
    multimodal decode boundary (MapInPandas, tested separately)."""
    python_ops = run_query(spark, sf_dir, name).python_ops
    assert "BatchEvalPython" not in python_ops
    assert "ArrowEvalPython" not in python_ops


@pytest.mark.parametrize("name", ["q_ngram_jaccard", "q_range_join", "q_embed_neardup"])
def test_no_nested_loop_joins(spark, sf_dir, name):
    plan = plan_of(catalog.QUERIES[name](spark, sf_dir))
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multimodal_uses_arrow_batches_not_pickling(spark, sf_dir):
    plan = plan_of(catalog.q_multimodal_digest(spark, sf_dir))
    assert "MapInPandas" in plan  # Arrow-batched
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_fact_surrogate_key_has_no_global_sort(spark, sf_dir):
    """The fact-path key assignment must number rows with a window
    partitioned by input-partition id (distributed sort). The only
    single-partition exchange allowed is the one over the
    n_partitions-row offsets side — never over the fact itself."""
    import os

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.relational import (
        with_surrogate_key_fact,
    )

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    plan = plan_of(with_surrogate_key_fact(li, "sk"))
    # full-data numbering window is hash-distributed by partition id
    assert "hashpartitioning(__sk_pid" in plan
    # exactly one single-partition exchange: the tiny offsets cumsum.
    # a global row_number over the fact would add a second one.
    assert plan.count("SinglePartition") == 1


def test_dim_surrogate_key_is_global_sort_by_design(spark, sf_dir):
    """Contrast pin: the dim path accepts a single-reducer window (dims
    are small); if this ever changes the docs/scale notes must follow."""
    plan = plan_of(catalog.q_surrogate_key(spark, sf_dir))
    assert "SinglePartition" in plan


def test_ntile_cume_has_no_global_data_sort(spark, sf_dir):
    """Round-6 fix for the last un-partitioned data-path window: the
    distribution trio (ntile/percent_rank/cume_dist) must come from the
    two-phase range rank — a rangepartitioning shuffle of the data plus
    per-range windows keyed by range id. The only SinglePartition
    exchanges allowed are over partition-count-sized sides (the offsets
    cumsum and the 1-row total), never the relation itself."""
    plan = plan_of(catalog.q_ntile_cume(spark, sf_dir))
    assert "rangepartitioning(c_acctbal" in plan
    assert "hashpartitioning(__gr_pid" in plan
    assert plan.count("SinglePartition") == 2


def test_percentile_rank_distributes_group_sorts(spark, sf_dir):
    """Per-group exact percentiles must NOT sort one group per reducer
    (3 return-flag groups over a 100 TB fact = three ~33 TB sorts):
    range-split on (group, value, tiebreaks) with per-(range, group)
    numbering. Zero SinglePartition anywhere — even the offsets cumsum
    window is partitioned by group."""
    plan = plan_of(catalog.q_percentile_rank(spark, sf_dir))
    assert "rangepartitioning(l_returnflag" in plan
    assert "l_extendedprice" in plan
    assert "hashpartitioning(__gg_pid" in plan
    assert "SinglePartition" not in plan


def test_sequence_pack_has_no_global_data_sort(spark, sf_dir):
    """The packing running sum must distribute: a range-partitioning
    exchange on doc_id (not a single-partition global sort of the data),
    with the per-range window partitioned by the range id. The only
    unpartitioned window runs over partition-count-sized offset rows."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("n_tokens")
    )
    plan = plan_of(pack_sequences(docs, "doc_id", "n_tokens", 512))
    assert "rangepartitioning(doc_id" in plan
    # the data-carrying window is keyed by the range partition id
    assert "Window" in plan and "__pk_pid" in plan
    # offsets come back via broadcast, not a second data shuffle
    assert "BroadcastHashJoin" in plan


def test_outlier_zscore_broadcasts_stats_never_shuffles_fact(spark, sf_dir):
    """The stats relation (groups-sized) must broadcast back onto the
    events scan — an exchange on the fact side would be a full shuffle of
    the 100 TB stream for a 5-row join."""
    plan = plan_of(catalog.q_outlier_zscore(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan  # moments pre-aggregated map-side


def test_drift_chi2_broadcasts_totals(spark, sf_dir):
    plan = plan_of(catalog.q_drift_chi2(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_runtime_filter_join_injects_bloom(spark, sf_dir):
    """q_runtime_filter_join raise-checks its own plan; assert the raise
    path stays live by checking the built plan carries the bloom filter."""
    plan = plan_of(catalog.q_runtime_filter_join(spark, sf_dir))
    assert "bloom_filter_agg" in plan


def test_orc_roundtrip_scan_is_orc(spark, sf_dir):
    plan = plan_of(catalog.q_orc_roundtrip(spark, sf_dir))
    assert "orc" in plan.lower()


def test_gopher_rules_is_map_only(spark, sf_dir):
    """The compound quality gate must be a single map-only corpus pass:
    no joins, no aggregation shuffle — the only exchange is the final
    presentation sort."""
    plan = plan_of(catalog.q_gopher_rules(spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_domain_cap_distributes_group_sorts(spark, sf_dir):
    """A hot domain's rank must range-split across reducers (two-phase
    grouped rank), never one-reducer-per-domain, and nothing
    relation-sized may pass through a SinglePartition exchange."""
    plan = plan_of(catalog.q_domain_cap(spark, sf_dir))
    assert "rangepartitioning(source" in plan
    assert "hashpartitioning(__gg_pid" in plan
    assert "SinglePartition" not in plan


def test_token_budget_fill_distributes_prefix_sums(spark, sf_dir):
    """Each source's cumulative token order must range-split across
    reducers (two-phase grouped prefix SUM — the q_domain_cap guarantee
    extended from ranks to running sums); no SinglePartition exchange
    anywhere in the data path."""
    plan = plan_of(catalog.q_token_budget_fill(spark, sf_dir))
    assert "rangepartitioning(source" in plan
    assert "hashpartitioning(__rs_pid" in plan
    assert "SinglePartition" not in plan


def test_mad_outlier_distributes_group_sorts(spark, sf_dir):
    """Both median selections run over the value-domain-bounded
    histogram during construction; the final (returned) plan is the
    deviation-histogram aggregate over literal medians —
    group-partitioned, no data-path window, no SinglePartition."""
    plan = plan_of(catalog.q_mad_outlier(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert "partial_" in plan  # map-side combine before the group exchange


def test_bigram_lift_reads_materialized_counts_not_text(spark, sf_dir):
    """Marginals and the grand total must derive from the materialized
    pair-count artifact — the corpus text is scanned ZERO times in the
    returned plan (it was scanned once, at materialization)."""
    plan = plan_of(catalog.q_bigram_lift(spark, sf_dir))
    assert "documents.parquet" not in plan
    assert "bigram_counts" in plan


def test_fuzzy_join_is_blocked_hash_join_not_all_pairs(spark, sf_dir):
    """Record linkage must candidate via the blocking-key equi-join;
    a nested-loop/cartesian distance comparison is the all-pairs plan
    that dies at scale."""
    plan = plan_of(catalog.q_fuzzy_join(spark, sf_dir))
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_corr_matrix_is_two_level_long_sums(spark, sf_dir):
    """The 15 power sums must ride the integerized two-level scheme:
    stage 1 groups by input-partition id (hash exchange on pid only),
    no per-row decimal arithmetic before the partition-count-sized
    merge, no Window, no join."""
    plan = plan_of(catalog.q_corr_matrix(spark, sf_dir))
    # spark_partition_id projects as _nondeterministic; stage 1 shuffles
    # only on it (narrow pre-aggregated rows)
    assert "hashpartitioning(_nondeterministic" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    # the fact-side partial aggregate sums FLOOR longs, never decimals
    assert "partial_sum(FLOOR" in plan


def test_linreg_is_two_level_long_sums(spark, sf_dir):
    """q_linreg's five power sums ride the same integerized scheme as
    q_corr_matrix: stage 1 shuffles only narrow pid-grouped longs, the
    fact-side partials sum FLOOR longs, and nothing joins or windows."""
    plan = plan_of(catalog.q_linreg(spark, sf_dir))
    assert "hashpartitioning(_nondeterministic" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum(FLOOR" in plan


def test_interpolate_windows_partition_by_user(spark, sf_dir):
    """Both interpolation frames (prev and next observation) must ride
    user-partitioned windows over the grid — no un-partitioned sort, no
    self-join against the observation set (the grid<-buckets LEFT join
    is the only join)."""
    plan = plan_of(catalog.q_interpolate_linear(spark, sf_dir))
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_last_touch_is_one_window_no_self_join(spark, sf_dir):
    """Attribution must come from the conditional window over all
    events, never a purchases x clicks self-join: one user-partitioned
    shuffle of the fact, zero joins. (The trailing orderBy is the
    presentation sort every catalog query carries.)"""
    plan = plan_of(catalog.q_last_touch(spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Window") == 1


def test_table_checksum_is_map_only_partials(spark, sf_dir):
    """Per-table fingerprints are map-side partial aggregates merged at
    a 1-row final — no join, no window, no shuffle wider than the
    scalar partials."""
    plan = plan_of(catalog.q_table_checksum(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan
    assert "sha2" in plan  # hashing happens JVM-side in the scan stage


def test_bpe_pair_counting_stays_jvm_side(spark, sf_dir):
    """The per-merge hot path (vocabulary pair explode -> count) must be
    pure codegen: no Python eval, no join; pair extraction lowers to
    transform/explode over the symbol arrays."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.bpe import (
        chars,
        word_counts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = word_counts(docs).select(chars(F.col("word")).alias("syms"), "wc")
    pairs = vocab.filter(F.size("syms") >= 2).select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("l"),
                    F.element_at(F.col("syms"), i + 1).alias("r"),
                ),
            )
        ).alias("p"),
    ).groupBy("p.l", "p.r").agg(F.sum("wc").alias("c"))
    plan = plan_of(pairs)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_linreg_group_is_two_level_long_sums(spark, sf_dir):
    """The grouped fit keeps the integerized two-level scheme: stage 1
    shuffles narrow longs on (returnflag, pid), FLOOR partials on the
    fact side, no window, no join."""
    plan = plan_of(catalog.q_linreg_group(spark, sf_dir))
    assert "hashpartitioning(l_returnflag" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum(FLOOR" in plan


def test_char_entropy_combines_histogram_map_side(spark, sf_dir):
    """The (doc_id, ch) explode must partially aggregate BEFORE the
    exchange — the shuffle carries per-doc histograms (~docs x
    alphabet), never raw corpus characters."""
    plan = plan_of(catalog.q_char_entropy(spark, sf_dir))
    assert "partial_count" in plan
    assert "Join" not in plan


def test_skyline_is_sort_based_not_dominance_join(spark, sf_dir):
    """The skyline must run the LINEAR plan: range-partitioned prefix-max
    over the domain-bounded per-price aggregate (one rangepartitioning
    of that aggregate, one SinglePartition carry window over
    partition-count-sized maxima) and a broadcast frontier re-attach —
    never the quadratic dominance join the NOT EXISTS oracle implies."""
    plan = plan_of(catalog.q_skyline(spark, sf_dir))
    assert "rangepartitioning(p_retailprice" in plan
    assert plan.count("SinglePartition") == 1  # the carry cumsum only
    assert "BroadcastHashJoin" in plan  # frontier-sized re-attach
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan


def test_basket_pair_join_is_keyed_not_cartesian(spark, sf_dir):
    """Pair generation must be basket-local array expansion over the
    materialized basket artifact (no pair self-join at all) — never a
    cartesian/nested-loop pair space. Marginals and totals read the
    same artifact, not the raw fact."""
    plan = plan_of(catalog.q_basket_rules(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the broadcast 1-row totals attach
    assert plan.count("NestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) == 1
    assert plan.count("Scan parquet") >= 3  # incidence artifact reused
    assert "lineitem" not in plan  # raw fact never re-scanned


def test_triangle_joins_are_keyed_not_cartesian(spark, sf_dir):
    """Both triangle joins (wedge build + closure) must be equi-joins on
    node ids; the closure is a LeftSemi (no payload materialized)."""
    plan = plan_of(catalog.q_triangle_count(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loops allowed are the broadcast 1-row stat attaches
    assert plan.count("NestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) == 2
    assert "LeftSemi" in plan


def test_ohlc_is_one_aggregate_no_window(spark, sf_dir):
    """The whole OHLC bar must be ONE map-side-combinable aggregate —
    min_by/max_by partials, no sort-based window, no join."""
    plan = plan_of(catalog.q_ohlc_bars(spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan


def test_rolling_dau_reads_incidence_artifact_not_events(spark, sf_dir):
    """All three readouts (days, 7-day fan-out, same-day DAU) must read
    the materialized user-day incidence — the raw events relation never
    re-scans after the dedup pass."""
    plan = plan_of(catalog.q_rolling_dau(spark, sf_dir))
    assert "events" not in plan
    assert plan.count("Scan parquet") >= 3
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_space_is_cell_bounded(spark, sf_dir):
    """The near-dup search must be an equi-join on the cell id (cluster-
    bounded candidates), never an all-pairs product, and the keep rule
    an anti-join — all JVM-side."""
    plan = plan_of(catalog.q_semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_pruning_stats_is_two_aggregates(spark, sf_dir):
    """File stats must come from map-side-combined aggregates over
    codegen'd bit ops; the only nested-loop is the broadcast 1-row
    key-maxima attach."""
    plan = plan_of(catalog.q_zorder_pruning_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("NestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan


def test_cube_sketch_unions_base_partials(spark, sf_dir):
    """Every lattice cell must derive from the materialized base-grain
    sketch artifact — the events relation never re-scans, and all four
    rollups are hll_union_agg over the artifact."""
    plan = plan_of(catalog.q_cube_distinct_sketch(spark, sf_dir))
    assert "events" not in plan
    assert plan.count("hll_union_agg") >= 4
    assert "Expand" not in plan  # no cube re-expansion of the input


def test_target_encode_loo_hints_only_the_bounded_nation_stats(spark, sf_dir):
    """Customer SCALES with the fact (sf x 150k rows), so its join must
    carry NO build-side hint — a forced broadcast of a fact-scaling
    relation is a driver/executor OOM at 100 TB. The only hint allowed
    is the 25-row per-nation stats broadcast-back. AQE may still CHOOSE
    to broadcast customer at test scale; the contract is about the
    hint, not the runtime pick."""
    opt = catalog.q_target_encode_loo(
        spark, sf_dir
    )._jdf.queryExecution().optimizedPlan().toString()
    hint_lines = [ln for ln in opt.splitlines() if "Hint=(" in ln]
    assert len(hint_lines) == 1, hint_lines
    assert "c_nationkey" in hint_lines[0]  # the 25-row nation aggregate


def test_price_index_hints_only_the_one_row_base_month(spark, sf_dir):
    """The base-month basket m0 is parts-dimension-sized (sf x 200k
    rows) — it scales, so its join on l_partkey must be unhinted; the
    only forced broadcast is the 1-row min-month scalar."""
    opt = catalog.q_price_index(
        spark, sf_dir
    )._jdf.queryExecution().optimizedPlan().toString()
    hint_lines = [ln for ln in opt.splitlines() if "Hint=(" in ln]
    assert len(hint_lines) == 1, hint_lines
    assert "__m0" in hint_lines[0]  # the 1-row first-month scalar


def test_gini_rank_is_distributed_two_phase(spark, sf_dir):
    """The revenue ranking must come from the two-phase range rank: a
    rangepartitioning exchange of the per-customer aggregate plus
    per-range numbering — the only SinglePartition exchanges are over
    partition-count-sized offsets and the final 1-row readout."""
    plan = plan_of(catalog.q_gini(spark, sf_dir))
    assert "rangepartitioning(rev" in plan
    assert "hashpartitioning(__gr_pid" in plan


def test_rfm_has_no_global_data_sort_ntile(spark, sf_dir):
    """Quintiles come from three two-phase ranks, NOT ntile over a
    global window (one reducer sorting every customer)."""
    plan = plan_of(catalog.q_rfm(spark, sf_dir))
    assert "ntile" not in plan.lower()
    assert "rangepartitioning(recency_days" in plan
    assert "rangepartitioning(frequency" in plan
    assert "rangepartitioning(monetary_cents" in plan


def test_ks_test_is_one_fact_scan_then_domain_sized(spark, sf_dir):
    """One events scan builds the value histogram (map-side combined);
    everything after operates on the value-domain-sized relation. The
    single-partition cumulative window is over the histogram, never the
    events."""
    plan = plan_of(catalog.q_ks_test(spark, sf_dir))
    assert plan.count("events.parquet") == 1 or plan.count("FileScan") == 1
    assert "partial" in plan.lower()  # map-side combine on the histogram


def test_bloom_filter_bits_are_broadcast(spark, sf_dir):
    """The probe join must broadcast the <=1024-row bit set — the whole
    point of shipping a Bloom filter to join sites; a shuffled filter
    join would defeat it."""
    plan = plan_of(catalog.q_bloom_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_changepoint_is_one_fact_scan(spark, sf_dir):
    """Daily aggregate once; every window after operates on the
    day-domain-sized relation (q_ks_test class)."""
    plan = plan_of(catalog.q_changepoint(spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_null_skew_join_segregates_nulls_before_exchange(spark, sf_dir):
    """The null-key stripe must never enter the join: the join's fact
    side carries an IsNotNull filter (nulls split off pre-exchange and
    union back) — the null-bucket hotspot can't form at any scale."""
    plan = plan_of(catalog.q_null_skew_join(spark, sf_dir))
    assert "Union" in plan
    # the keyed branch's scan carries the not-null predicate (Catalyst
    # folds it into a CASE over the original key expression)
    assert "ELSE isnotnull(o_custkey" in plan


def test_abc_pareto_rank_and_prefix_sum_are_distributed(spark, sf_dir):
    """Descending revenue rank AND the cumulative revenue must both ride
    range partitionings — no single-reducer sort of the parts relation."""
    plan = plan_of(catalog.q_abc_pareto(spark, sf_dir))
    assert "__neg" in plan and "rangepartitioning(__g" in plan


def test_spearman_ranks_are_two_phase(spark, sf_dir):
    plan = plan_of(catalog.q_spearman_corr(spark, sf_dir))
    assert "rangepartitioning(frequency" in plan
    assert "rangepartitioning(monetary_cents" in plan
