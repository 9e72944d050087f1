"""Physical-plan assertions — the 100 TB posture checks.

Correctness says the right rows come back; these tests pin the *plan
shape* that makes the same query viable at scale: predicate pushdown into
the parquet scan, column pruning, broadcast joins for dims, whole-stage
codegen, and TakeOrderedAndProject for global top-k. A regression here is
a performance bug even when results stay correct.
"""

from __future__ import annotations

import os

import pytest

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_pred")
    assert "PushedFilters:" in plan
    # all three predicates pushed: quantity range, returnflag equality, date
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_returnflag" in pushed and "l_quantity" in pushed and "l_shipdate" in pushed


def test_column_pruning_projects_only_needed(spark):
    plan = plan_of(spark, "project_rename")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "c_custkey" in read_schema and "c_acctbal" not in read_schema


def test_dims_broadcast_in_star_joins(spark):
    for name in ("join_broadcast", "curation_revenue_by_nation"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_sortmerge_hint_pins_smj(spark):
    plan = plan_of(spark, "join_sortmerge")
    assert "SortMergeJoin" in plan


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_hot_paths_are_codegen(spark):
    # agg/filter pipelines must sit inside WholeStageCodegen spans; AQE
    # hides codegen annotation until execution, so inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("agg_grouped", "fn_math", "filter_pred"):
            df = REGISTRY[name].spark(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            n = int(plan.split("Found ")[1].split(" WholeStageCodegen")[0])
            assert n >= 1, f"{name}: no codegen subtree\n{plan[:500]}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_topn_window_uses_group_limit(spark):
    plan = plan_of(spark, "win_rank_topn")
    assert "WindowGroupLimit" in plan


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_similarity_queries_are_broadcast(spark):
    # the big candidate side must never shuffle for the join.  The
    # registered sim_topk now returns the session-cached checkpoint
    # (plan truncates to an RDD scan), so inspect the underlying
    # operator plan the cache materializes.
    from gcp_de_data_pipeline_cc_spark.catalog import load_table
    from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
    import pyspark.sql.functions as _F

    emb = load_table(spark, SF_DIR, "embeddings")
    df = sim.cosine_topk(emb.filter(_F.col("vec_id") % 50 == 0), emb, k=10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_cartesian_in_ngram_jaccard(spark):
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_fires(spark):
    plan = plan_of(spark, "join_partition_pruned")
    assert "dynamicpruning" in plan.lower(), plan[:800]
    assert "PartitionFilters" in plan


def test_tpch_wave_pushdown_and_broadcast(spark):
    # Q6: the whole WHERE clause must reach the parquet scan
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # Q9: part prefix filter pushed; star joins all broadcast (no SMJ)
    plan = plan_of(spark, "tpch_q9_product_profit")
    assert "StringStartsWith(p_name,red)" in plan
    assert "BroadcastHashJoin" in plan


def test_q21_rewrite_single_window_shuffle(spark):
    # The decorrelated Q21 must not contain correlated re-scans: exactly
    # one Window partitioning (l_orderkey) serves all three analytic
    # columns, and the semi join against F-orders is a real LeftSemi.
    plan = plan_of(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_lsh_bucketing_stays_vectorized(spark):
    # The LSH signature is one ArrowEvalPython (pandas UDF) stage, not a
    # giant literal expression tree; candidate join must be broadcast.
    plan = plan_of(spark, "sim_topk_lsh")
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan


def test_split_is_shuffle_free_projection(spark):
    # Deterministic hash split: a single scan + partial/final agg pair,
    # no join, no window.
    plan = plan_of(spark, "split_train_test")
    assert "Join" not in plan and "Window" not in plan
    # one scan node = two mentions (tree line + node detail)
    assert plan.count("Scan parquet") == 2


def test_training_windows_are_sharded_not_global(spark):
    """pack_sequences / shuffle_epoch must partition their windows by
    shard — a global (empty-partition) window collapses to one task."""
    for name in ("pack_sequences", "shuffle_epoch"):
        plan = plan_of(spark, name)
        assert "hashpartitioning(shard" in plan, f"{name}: window not sharded\n"
        assert "SinglePartition" not in plan, name


def test_salted_distinct_two_stage(spark):
    """agg_salted_distinct: two aggregation stages, first keyed on
    (priority, salt) — the exchange must carry the salt."""
    plan = plan_of(spark, "agg_salted_distinct")
    # catalyst folds the _salt alias into a grouping expression; the pmod
    # salt must appear and the first exchange must be keyed on it
    assert "pmod(o_custkey" in plan
    assert "hashpartitioning(o_orderpriority" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at each stage


def test_pii_scan_is_narrow(spark):
    """pii_scan is a pure map stage: no exchange anywhere in the plan."""
    plan = plan_of(spark, "pii_scan")
    assert "Exchange" not in plan


def test_doc_chunk_is_narrow(spark):
    """doc_chunk is generate + slice + hash: a pure map stage with no
    exchange — chunking 100 TB is scan-bound, never shuffle-bound."""
    plan = plan_of(spark, "doc_chunk")
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode fan-out stays in the map stage


def test_feature_scale_broadcasts_stats(spark):
    """feature_scale: the per-type stats aggregate broadcasts; the fact
    rows must NOT go through a sort-merge shuffle."""
    plan = plan_of(spark, "feature_scale")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ts_wma_single_window_shuffle(spark):
    """ts_wma: exactly one exchange (the series-key window partition) —
    the weighted sum itself is codegen expression work, not a join."""
    plan = plan_of(spark, "ts_wma")
    # one exchange node = two mentions (tree line + node detail)
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(event_type" in plan
    assert "Join" not in plan


def test_bloom_filter_reaches_fact_scan(spark):
    """join_bloom_pruned: inside bloom_filter_scope the optimizer must
    inject bloom_filter_agg on the dim side and a might_contain filter
    on the fact side — the semi-join reduction that kills fact rows
    before the shuffle."""
    from gcp_de_data_pipeline_cc_spark.plans.scale import (
        bloom_filter_scope,
        bloom_pruned_join,
    )

    with bloom_filter_scope(spark):
        df = bloom_pruned_join(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan


def test_cdc_apply_single_key_shuffle(spark):
    """cdc_apply: the three log branches union then collapse with ONE
    exchange on the change key (row_number and n_ops share the window
    partition)."""
    plan = plan_of(spark, "cdc_apply")
    # one exchange node = two mentions (tree line + node detail)
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(k" in plan


def test_shuffle_hash_hint_pins_shj(spark):
    """join_shuffle_hash: the SHUFFLE_HASH hint must yield a
    ShuffledHashJoin (no sort passes), not Spark's default SortMergeJoin
    — the entire point of the query."""
    plan = plan_of(spark, "join_shuffle_hash")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lateral_limit_decorrelates_to_window(spark):
    """join_lateral: the correlated LATERAL ... LIMIT 3 must decorrelate
    into a windowed per-partition limit — NOT a per-row re-probe of
    orders (no nested-loop execution of the subquery)."""
    plan = plan_of(spark, "join_lateral")
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_band_join_broadcasts_band_side(spark):
    """join_range_band: the non-equi band join is only scale-safe when
    the 5-row band side broadcasts (nested-loop against a broadcast,
    never a shuffled cartesian)."""
    plan = plan_of(spark, "join_range_band")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_joins_without_fact_shuffle(spark):
    """sql_recursive_cte: the month spine is tiny; the join against
    orders must be a broadcast hash join (spine side broadcast), not a
    shuffled SMJ of the fact."""
    plan = plan_of(spark, "sql_recursive_cte")
    assert "UnionLoop" in plan or "Recursive" in plan or "BroadcastHashJoin" in plan


def test_asof_tolerance_single_shuffle_no_range_join(spark):
    """join_asof_tolerance: the union-window formulation must plan ONE
    exchange on user_id and no join node at all — the tolerance is a
    projection branch, not a range join."""
    plan = plan_of(spark, "join_asof_tolerance")
    assert plan.count("Exchange") == 2  # tree line + node detail
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan


def test_keywords_use_window_group_limit(spark):
    """text_keywords: the per-doc top-3 must plan a WindowGroupLimit
    (partial limit before the full window sort), and the df/total sides
    must broadcast — no SMJ against the postings."""
    plan = plan_of(spark, "text_keywords")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_islands_share_one_shuffle(spark):
    """win_islands: both row_number windows and the run aggregation key
    on o_custkey — the plan must contain exactly one exchange over the
    orders scan (plus its AQE mention), not one per window."""
    plan = plan_of(spark, "win_islands")
    assert plan.count("Exchange") == 2  # tree line + node detail
    assert "hashpartitioning(o_custkey" in plan


def test_seasonal_baseline_windows_on_aggregates(spark):
    """ts_seasonal_baseline: the median window must run AFTER the daily
    count aggregation — the raw events scan feeds a HashAggregate before
    any Window node."""
    plan = plan_of(spark, "ts_seasonal_baseline")
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert 0 < agg_pos and 0 < win_pos


def test_bm25_broadcasts_query_terms_and_stats(spark):
    """text_bm25: query terms, df, and corpus stats are tiny — every
    join against the postings must be broadcast, never SMJ on the
    token or doc_id keys for the small sides."""
    plan = plan_of(spark, "text_bm25")
    assert "BroadcastHashJoin" in plan


#: reviewed BroadcastNestedLoopJoin consumers — every entry is one of:
#: (a) a broadcast ONE-ROW scalar side (corpus totals, thresholds, avg
#:     comparisons — the scalar-subquery pattern: a per-row codegen
#:     branch, not a join blow-up),
#: (b) a bounded broadcast block (5-row band table, 29-customer
#:     levenshtein block, query-subset in brute-force similarity), or
#: (c) a broadcast calendar spine (ts_gapfill / ts_interpolate).
#: A NEW query planning a BNLJ must be reviewed and added here, or the
#: sweep fails — that is the point.
_BNLJ_REVIEWED = frozenset({
    # r9 wave: one-row stat/total broadcasts — category (a) scalar
    # broadcasts throughout (EDF n-totals, contingency margins + n,
    # Jonckheere tie/group totals, Brunner-Munzel group fits, Cliff
    # cell totals (the cells-squared cross is domain-bounded ≤ |chars
    # domain|² — category (b)), Bartlett k-row fit, odds-ratio mean
    # thresholds, ADF/KPSS/VR/turning/Bartels moment rows, CCF 15-row
    # lag spine x hour series — category (b), Granger moment row,
    # log-rank sizes, RBO 20x20 overlap)
    "stats_anderson_darling", "stats_cramer_von_mises", "stats_gtest",
    "stats_jonckheere", "stats_brunner_munzel", "stats_cliffs_delta",
    "stats_bartlett", "stats_odds_ratio",
    "ts_adf", "ts_kpss", "ts_variance_ratio", "ts_turning_points",
    "ts_bartels_rank", "ts_crosscorr", "ts_granger",
    "survival_logrank", "eval_rbo",
    # r9 wave 2: 1-row broadcasts (state count, moment fits, day span,
    # TOST group fits) — category (a); plus two calendar-bounded band
    # joins — category (b): the EWMA 16-tap frame over the day spine
    # and the Cox-Stuart half-offset pairing
    "markov_stationary", "stats_lilliefors", "stats_poisson_rate",
    "ts_cox_stuart", "ts_ewma_control", "eval_tost",
    # r7 wave: one-row stat/aggregate broadcasts (Wilcoxon W/tie
    # totals, runs-test median, Friedman block count, Hurst scale
    # aggregates, DSIR corpus totals, perplexity-bucket LM totals,
    # QL corpus totals, chrF n-gram totals, capture-recapture counts,
    # Theil totals, fair-share capacity/cut, Shapley lattice/full-v)
    # — category (a); plus the calendar-bounded SampEn template
    # self-join (≤3M pairs per decade) and sim_index_rebalance's
    # |cells|-row flag broadcast — category (b) bounded relations
    "stats_wilcoxon_signed_rank", "stats_runs_test", "stats_friedman",
    "ts_hurst_rs", "ts_sample_entropy", "corpus_dsir_weights",
    "corpus_perplexity_buckets", "retrieval_query_likelihood",
    "eval_chrf", "sim_index_rebalance", "attribution_shapley_sampled",
    "ops_fair_share_allocation", "stats_capture_recapture",
    "agg_theil_decomposition",
    # kendall-knight: the (n/C)^2 tiny grid spine (distinct chunks x
    # broadcast distinct buckets) and the 1-row Q/tie combiners —
    # categories (b)/(a); the data-sized joins (same-bucket, grid
    # weights) are all equi-joins
    "hypothesis_kendall_knight",
    # heaps-law: 10-row decile spine band-joined against the
    # vocabulary-sized first-occurrence relation — category (b)
    "corpus_heaps_law",
    # r3 wave: one-row scalar broadcasts (RFM anchor date / freshness
    # anchor) — category (a); market_basket and attribution_last_touch
    # were REMOVED after their window-normalizer rewrites eliminated
    # the scalar crossJoin entirely
    "fn_surrogate_key", "qc_freshness", "rfm_segments",
    # r3p wave: one-row stat-total broadcasts (sums x ties, ECDF-max x
    # totals) — category (a) scalar broadcasts
    "hypothesis_spearman", "hypothesis_ks2",
    # r3q wave: exact-F2 x estimator-mean x median one-row broadcasts
    # — category (a) scalar broadcasts
    "sketch_ams_f2",
    # r3s wave: 7-row boundary-table band joins + one-row totals —
    # categories (b)/(a)
    "range_partition_plan", "split_leakage_safe",
    # r3v wave: one-row fixpoint-audit broadcast — category (a)
    "graph_kcore",
    # r3w wave: one-row direct-vs-fold broadcast — category (a)
    "stats_moments_merge",
    # r3y wave: one-row est x exact quantile-arm broadcasts and the
    # one-row grand-total share join — category (a)
    "sketch_quantile_samples", "rollup_share_of_parent",
    # r3z wave: one-row m2 / basket-total / Q-total broadcasts —
    # category (a)
    "graph_modularity", "market_basket_triples",
    # r8 wave: one-row stat/total broadcasts (KW fit+tie, Cochran
    # totals+k, dispersion corpus total, rich-club n/m density,
    # Brier bin totals, class-balance minority count, WER 1-row OOV
    # symbol, spectral-entropy series totals, Page nothing — no BNLJ)
    # — category (a) scalar broadcasts throughout
    "stats_kruskal_wallis", "stats_cochran_q", "corpus_dispersion_dp",
    "graph_rich_club", "eval_brier_decomposition",
    "sample_class_balanced", "eval_wer", "ts_spectral_entropy",
    # r8 wave 2: one-row totals (AP P/N, siegel-tukey pooled n, CKA
    # n-row count) and the 15-row marker-set broadcast (burrows) —
    # categories (a)/(b)
    "eval_auc_pr", "stats_siegel_tukey", "embedding_cka",
    "corpus_burrows_delta",
    # r8 wave 3: one-row totals (W's ss4/ties/m, KS n) — category (a)
    "stats_kendall_w", "stats_ks_uniform",
    # r4a wave: one-row conversion-count broadcast — category (a)
    "attribution_position_based",
    # r4b wave: one-row bigram/unigram-total broadcasts — category (a)
    "text_collocations",
    # r4c wave: one-row stat/median/quartile broadcasts — category (a)
    "anomaly_ensemble",
    # r4e wave: query-subset broadcast (the sim_topk class) and the
    # one-row totals broadcast — categories (b)/(a)
    "embedding_quantize_eval", "agg_lorenz_curve",
    # r4h wave: one-row grand-total share broadcast — category (a)
    "agg_topn_other",
    # r4i wave: 5-row sensitive-domain grid + one-row total/seat
    # broadcasts — categories (b)/(a)
    "privacy_t_closeness", "corpus_apportion_budget",
    # round-4 wave: ops_retry_budget crosses the 9-row task table with
    # the one-row worst-makespan scalar — category (a); qc_alert_routing
    # inherits qc_freshness' one-row anchor broadcast — category (a)
    "ops_retry_budget", "qc_alert_routing",
    # r4u-r5a session waves: one-row totals/clip/obs broadcasts
    # (category a) — eval_f1_multiclass (macro/micro totals), eval_bleu
    # (corpus clip sums x lengths), train_length_buckets (doc count +
    # global-baseline rows), corpus_temperature_mix (weight totals +
    # seat count), recsys_hit_rate (n_eval x hit tally),
    # graph_betweenness (nation-count normalizer); hypothesis_permutation
    # additionally crosses the user-grain relation with the 199-row
    # replicate grid — category (b) bounded constant dim
    "eval_f1_multiclass", "eval_bleu", "train_length_buckets",
    "corpus_temperature_mix", "recsys_hit_rate", "graph_betweenness",
    "hypothesis_permutation",
    # r5b-r5o session waves: one-row stat/grid/audit broadcasts
    # (category a) — equidepth totals, STL seasonal/median/MAD rows,
    # power-planner variance row, period-detect lag grid (13-row
    # constant dim — category b), data-card vocab/dup/lang rows,
    # articulation chain grid (|V|+1-row dim — category b), blind-join
    # collision audit; embedding_prefix_dims_eval broadcasts the
    # BOUNDED sampled query set into an inequality join (the sim_topk
    # class — category b)
    "histogram_equidepth", "ts_anomaly_stl_residual", "ab_power_mde",
    "ts_period_detect", "corpus_data_card", "graph_articulation",
    "embedding_prefix_dims_eval", "join_blind_keys",
    "ops_schema_evolution_compat",
    # r5r wave: one-row weight-total / seat-count broadcasts —
    # category (a)
    "sample_neyman_allocation",
    # r5u wave: ts_downsample_lttb broadcasts the one-row first/last
    # points and the single-row bucket array; train_shard_stratified
    # the one-row max-deviation audit — category (a) scalar broadcasts
    "ts_downsample_lttb", "train_shard_stratified",
    # r5x wave: ops_rtbf_purge crosses each table's one-row count with
    # its one-row purged-count — category (a) scalar broadcasts
    "ops_rtbf_purge",
    # r5z wave: eval_reward_length_bias crosses the 10-row decile table
    # with the one-row corr/slope stats — category (a)
    "eval_reward_length_bias",
    # r6a wave: ts_seasonality_strength crosses the day-grain core with
    # the one-row seasonal-mean normalizer; agg_decay_weighted the
    # one-row max-date scalar — category (a)
    "ts_seasonality_strength", "agg_decay_weighted",
    # r6b wave: dedup_incremental crosses the 3-row verdict rollup with
    # the one-row incoming total — category (a)
    "dedup_incremental",
    # r6f wave: corpus_filter_ablation crosses the 4-rule rows with the
    # one-row totals; ops_littles_law the one-row sweep integral —
    # category (a)
    "corpus_filter_ablation", "ops_littles_law",
    # r6g wave: tokenizer_bpe_apply crosses the token rollup with the
    # one-row corpus chars/tokens totals — category (a)
    "tokenizer_bpe_apply",
    # r6i wave: ops_cron_schedule joins the calendar spine against the
    # 4-row literal spec dim on spec-match predicates (category b
    # bounded dim); privacy_pseudonym_rotation crosses one-row
    # stats/leak/stability scalars (category a)
    "ops_cron_schedule", "privacy_pseudonym_rotation",
    # r6j wave: qc_geo_validity crosses the <=5 verdict rows with the
    # one-row total — category (a)
    "qc_geo_validity",
    # r6 scheduling trio tail: ops_schedule_monte_carlo crosses the
    # bounded task table with the 200-row replicate spine and the
    # one-row makespan-rank scalars — categories (b)/(a)
    "ops_schedule_monte_carlo",
    # r6k wave: retrieval_rrf_fusion crosses the one-row query vector
    # and the one-row corpus stats (category a; the arms are cut to 50
    # rows before the fusion join); embedding_ood_mahalanobis crosses
    # the one-row 64-entry moment-array relation (category a);
    # graph_ktruss crosses the one-row fixpoint audit (category a,
    # the graph_kcore contract)
    "retrieval_rrf_fusion", "embedding_ood_mahalanobis", "graph_ktruss",
    # r6l/r6m waves: seq_funnel_window crosses one-row user-total /
    # level-0 scalars; text_kneser_ney crosses the one-row bigram-type
    # total; privacy_dp_exponential crosses the one-row n into the
    # 32-row fixed candidate grid — all category (a) scalar broadcasts
    "seq_funnel_window", "text_kneser_ney", "privacy_dp_exponential",
    # stats_mutual_info crosses the one-row corpus total and the
    # one-row quantized MI total into the |X|·|Y| cell relation —
    # category (a) scalar broadcasts
    "stats_mutual_info",
    # r6n wave: sim_topk_binary broadcasts the fixed-Q query signature
    # set into the candidate scan (category b, the sim_topk class);
    # ops_slot_sizing crosses the one-row CPM/serial envelope scalars
    # into the 4-row sweep (category a)
    "sim_topk_binary", "ops_slot_sizing",
    # r6q wave: qc_psi crosses the one-row date-bounds scalar and the
    # one-row PSI total into the 10-bin relation; ts_demand_classification
    # crosses the one-row span scalar and the one-row census total —
    # category (a) scalar broadcasts
    "qc_psi", "ts_demand_classification",
    # r6s wave: attribution_shapley joins the 16-row coalition lattice
    # against the bounded touch-mask rollup via bitmask predicates and
    # crosses the one-row efficiency scalar — categories (b)/(a)
    "attribution_shapley",
    # hypothesis_kendall joins the 25-row nation profile to itself on
    # an inequality (300 ordered pairs) and crosses the one-row n
    # scalar — categories (b)/(a)
    "hypothesis_kendall",
    # ab_sequential_sprt crosses the one-row first-crossing scalar into
    # the calendar-bounded trajectory — category (a)
    "ab_sequential_sprt",
    # round-4 second wave: fn_ip_network's prefix-mask expression join
    # against the 4-row CIDR dim and geo_nearest_site's 5-row site
    # cross join — category (b) bounded dims; quality_composite_score
    # and train_mixture_epochs broadcast one-row totals — category (a)
    "fn_ip_network", "geo_nearest_site", "quality_composite_score",
    "train_mixture_epochs",
    # trailing-window distinct actives: 28-day band join against the
    # broadcast day spine — category (c) calendar spine
    "ts_active_users",
    # r4k wave: eval_auc_roc crosses the 10-row threshold grid with the
    # one-row AUC summary; eval_calibration_ece crosses the 10-row bin
    # table with the one-row ECE totals — category (a) scalar/bounded
    "eval_auc_roc", "eval_calibration_ece",
    # round-3 tail (added after the last sweep run): the bootstrap CI
    # crosses the one-row point estimate with the one-row #5/#195
    # order-statistic bounds — category (a) scalar broadcasts
    "eval_bootstrap_ci",
    # r4l wave: stats_fdr_bh crosses the 25-row battery with the
    # one-row 2x2 margin totals and the one-row k_max scalar;
    # graph_hits crosses each <=25-row score relation with its one-row
    # L1 total — category (a) scalar broadcasts
    "stats_fdr_bh", "graph_hits",
    # r4m wave: ab_cuped crosses the user-grain relation with the
    # one-row theta/xbar moments and the 2-arm table with one-row
    # variance/lift scalars — category (a) scalar broadcasts
    "ab_cuped",
    # r4n wave: eval_agreement_kappa crosses the 9-row grid with the
    # one-row marginal products; text_bigram_lm crosses positions with
    # the one-row context-vocabulary count — category (a)
    "eval_agreement_kappa", "text_bigram_lm",
    # r4o wave: heavy_hitters_mg crosses candidate recounts with the
    # one-row stream total — category (a)
    "heavy_hitters_mg",
    # r5 SP-offender rework: corpus_sample_by_weights crosses the rank
    # relation with the one-row budget/s_tot totals (replacing the old
    # entity-sized global window); pipeline_raw_to_staging crosses the
    # three one-row per-entity audit aggregates — category (a)
    "corpus_sample_by_weights", "pipeline_raw_to_staging",
    # r6 wave: dedup_minhash_sweep crosses each config's one-row
    # candidate/hit counts with the one-row truth total;
    # sim_index_maintenance crosses the per-cell report with the
    # one-row delta/base totals and broadcasts the bounded centroid
    # dim into delta assignment — category (a)/(b)
    "dedup_minhash_sweep", "sim_index_maintenance",
    # r6 wave: graph_articulation_tarjan crosses nation with the
    # one-row comp_full scalar from the single-task DFS;
    # sim_topk_ivf_sweep crosses the one-row n_queries/candidates/
    # exact/hit totals per nprobe row and broadcasts the bounded
    # centroid dim into the probe ranking (the sim_topk_ivf shape) —
    # category (a)/(b)
    "graph_articulation_tarjan", "sim_topk_ivf_sweep",
    # r5 waves: graph_betweenness_sampled crosses nation with one-row
    # node/source totals; train_curriculum_schedule and
    # eval_agreement_krippendorff cross with one-row totals — category
    # (a).  The PQ search keys are not here: their exact-L2 arm and IVF
    # probe cells feed one fused scan, which plans no nested-loop join
    "graph_betweenness_sampled", "train_curriculum_schedule",
    "eval_agreement_krippendorff",
    # r4p wave: stats_jackknife crosses the 25-row group table with
    # one-row totals/moments — category (a)
    "stats_jackknife",
    # r4q wave: ts_changepoint_binseg crosses the day-grain prefix
    # table with the one-row series total — category (a)
    "ts_changepoint_binseg",
    # r4r wave: recsys_coverage crosses brand-cardinality metrics with
    # one-row totals — category (a)
    "recsys_coverage",
    # r4s wave: eval_elo_bt crosses the 8-model rating relation with
    # the one-row normalization total each iteration; stats_eb_shrinkage
    # crosses the 25-row segment table with the one-row prior — (a)
    "eval_elo_bt", "stats_eb_shrinkage",
    "agg_approx_distinct", "corpus_zipf", "fn_levenshtein",
    "funnel_conversion", "graph_triangles", "hypothesis_chisq",
    "join_range_band", "kmeans_assign", "qc_foreign_keys",
    "qc_observe_metrics", "sim_topk", "sim_topk_ivf", "sim_topk_lsh",
    "skew_profile",
    "text_bm25", "text_keywords", "text_perplexity", "text_tfidf",
    "tpch_q11_important_stock", "tpch_q22_idle_customers",
    "ts_gapfill", "ts_interpolate",
})


def test_manifest_has_no_cartesian_and_only_reviewed_bnlj():
    """Registry-wide physical audit over the committed plan manifest
    (tools/plan_manifest.py): NO query may plan a CartesianProduct, and
    only reviewed queries may plan a BroadcastNestedLoopJoin.  A
    cartesian sneaking into any plan is the single worst 100 TB failure
    mode.  That every plan still builds, and that the committed counts
    are the current ones, is tests/test_plan_manifest.py's heavy-tier
    freshness check."""
    from tools.plan_manifest import SKIP, load

    offenders = {}
    for name, entry in load().items():
        if name in SKIP:
            continue
        if entry["cartesian"]:
            offenders[name] = "CartesianProduct"
        elif entry["bnlj"] and name not in _BNLJ_REVIEWED:
            offenders[name] = "non-allowlisted BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_market_basket_single_fact_pass(spark):
    """The one-pass property is the operator's whole design (the join
    diamond re-scanned lineitem 4x): the physical plan must contain
    exactly ONE lineitem scan and one part scan."""
    plan = plan_of(spark, "market_basket")
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("part.parquet") == 1


def test_centroid_drift_single_fact_pass(spark):
    """Same law for the embedding rollup: the global centroid derives
    from the label rollup via a window, not a second embeddings scan."""
    plan = plan_of(spark, "embedding_centroid_drift")
    assert plan.count("embeddings.parquet") == 1, plan


def test_cusum_single_window_exchange(spark):
    """All four window quantities (count/total/prefix/pick) must share
    the event_type partitioning: exactly one hashpartitioning exchange
    on the daily rollup, not one per window."""
    import re

    plan = plan_of(spark, "ts_cusum")
    # exchanges: one for the daily groupBy, one re-used partitioning for
    # the windows (hashpartitioning(event_type)); anything more means a
    # window picked up its own shuffle
    n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_ex <= 2, plan


def test_star_except_prunes_excluded_columns(spark):
    """The analyzer must expand * EXCEPT before optimization, so the
    excluded columns never reach the parquet ReadSchema."""
    plan = plan_of(spark, "sql_star_except")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" in read_schema
    for gone in ("l_tax", "l_suppkey", "l_linestatus"):
        assert gone not in read_schema, gone


def _unpartitioned_window_subtrees(plan: str) -> list[str]:
    """Chunks of a formatted plan rooted at each SinglePartition window
    exchange (the 'WindowExec: No Partition Defined' shape)."""
    out = []
    lines = plan.split("\n")
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ahead = "\n".join(lines[max(0, i - 2) : i + 12])
            if "Window" in ahead:  # scalar-agg exchanges are fine
                out.append(ahead)
    return out


@pytest.mark.parametrize("name", ["rfm_segments", "agg_lorenz_curve"])
def test_entity_ranks_never_single_partition_sort(spark, name):
    # global_rank's two-phase form: any single-partition exchange left
    # in the plan must feed the CONFIG-bounded offsets relation (rows =
    # shuffle partitions, keyed __pid), never the entity-sized input.
    # (The range exchange itself sits beneath global_rank's boundary-
    # pinning checkpoint and is proven by the unit test below.)
    plan = plan_of(spark, name)
    chunks = _unpartitioned_window_subtrees(plan)
    assert chunks, f"{name}: expected the bounded offsets exchange"
    for chunk in chunks:
        assert "__pid" in chunk, (
            f"{name}: single-partition exchange over entity rows\n{chunk}"
        )


def test_global_rank_is_two_phase_range_exchange(spark):
    """The helper behind every entity-sized rank: the un-truncated plan
    (materialize=False) must range-exchange the data and window ONLY on
    __pid — never a global single-partition sort of the input."""
    from pyspark.sql import functions as F

    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    df = spark.range(100000).select(
        F.col("id"), (F.col("id") * 37 % 9973).alias("v")
    )
    ranked = global_rank(
        df, [F.col("v"), F.col("id")], rank_col="rn", materialize=False
    )
    plan = ranked._sc._jvm.PythonSQLUtils.explainString(
        ranked._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan.lower()
    for chunk in _unpartitioned_window_subtrees(plan):
        assert "__pid" in chunk, chunk


@pytest.mark.parametrize("cumsum", [False, True])
def test_global_rank_pins_its_range_partitions(spark, cumsum):
    """Both global_rank paths checkpoint the range-partitioned relation
    by default: planned twice, the range exchange would sample its
    boundaries twice with different seeds, and local ranks could
    disagree with the partition offsets.  The checkpoint shows in the
    analyzed plan as a LogicalRDD."""
    from pyspark.sql import functions as F

    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    df = spark.range(1000).select("id", (F.col("id") % 7).alias("v"))
    kw = {"value_col": "v", "cumsum_col": "cv"} if cumsum else {}
    ranked = global_rank(df, [F.col("v"), F.col("id")], **kw)
    assert "LogicalRDD" in ranked._jdf.queryExecution().analyzed().toString()


# --------------------------------------------------------------------------
# Registry-wide EMPIRICAL SinglePartition classification (r4 verdict #3)
# --------------------------------------------------------------------------
#
# tools/sp_audit.py executes every plannable registry key at sf0.001 and
# sf0.01 and records the ACTUAL rows written through each SinglePartition
# shuffle exchange (AQE plan metrics).  The tests below pin the committed
# sp_audit.json: every such exchange must be bounded by DOMAIN cardinality
# (one-row totals, __pid offsets <= shuffle partitions, calendar spines,
# class labels), never by data size.  A new key with an entity-sized
# global window fails the coverage check (regen the audit) and then the
# bound check — the registry-wide invariant the static census (PLANS.md)
# could only count, not classify.

#: the allowlist + classification live in tools/sp_bounds.py so that
#: tools/sp_audit.py runs the EXACT same check at artifact-write time —
#: an audit merge with unclassified offenders exits 1 before it can be
#: committed "green" (the round-7 process gap)
from tools.sp_bounds import classify_offenders as _sp_classify_offenders


def _sp_audit() -> dict:
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "sp_audit.json")
    with open(path) as f:
        return json.load(f)


def test_sp_audit_covers_current_registry():
    """The committed audit must have run over exactly today's plans: it
    records each audited key's plan fingerprint, which must equal the
    committed plan manifest's (itself checked against the registry by
    tests/test_entry_ordering.py).  Adding a key, or changing a plan,
    without re-running tools/sp_audit.py fails here first."""
    from tools.plan_manifest import SKIP, load

    manifest_fps = {k: e["fp"] for k, e in load().items() if k not in SKIP}
    audit_fps = _sp_audit()["fps"]
    stale = sorted(
        k for k in manifest_fps.keys() | audit_fps.keys()
        if manifest_fps.get(k) != audit_fps.get(k)
    )
    assert not stale, f"sp_audit.json is stale for {stale} — rerun tools/sp_audit.py"


def test_sp_single_partition_exchanges_all_bounded():
    """EVERY SinglePartition exchange in every audited plan carried at
    most its classified domain bound at sf0.01, and its rows do not
    scale with the data (10x input -> <=3x rows, with a 64-row floor
    for parallelism artifacts).  This is the empirical form of 'no
    entity-sized relation ever funnels through one reducer'."""
    audit = _sp_audit()
    offenders = _sp_classify_offenders(audit["keys"])
    assert not offenders, offenders


def test_hard_negatives_no_unbounded_broadcast(spark):
    # the r3 scale flaw: anchors (|corpus|/25) rode an explicit
    # broadcast hint.  Size-based AQE broadcasts of genuinely tiny
    # relations are fine; an unconditional HINT is not.  Inspect the
    # pre-checkpoint scored relation (the checkpoint truncates plans).
    from gcp_de_data_pipeline_cc_spark.plans.training import _hn_scored

    df = _hn_scored(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # candidate generation is an equi-join on (table_id, bucket)
    assert "table_id" in analyzed and "bucket" in analyzed
