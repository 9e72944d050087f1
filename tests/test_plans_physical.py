"""Physical-plan assertions — the 100 TB posture checks.

Correctness says the right rows come back; these tests pin the *plan
shape* that makes the same query viable at scale: predicate pushdown into
the parquet scan, column pruning, broadcast joins for dims, whole-stage
codegen, and TakeOrderedAndProject for global top-k. A regression here is
a performance bug even when results stay correct.
"""

from __future__ import annotations

import json
import os

import pytest

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR
from tools.plan_manifest import SKIP, load
from tools.sp_bounds import classify_offenders


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
# Registry-wide measured plan gate
# --------------------------------------------------------------------------
#
# tools/sp_audit.py executes every plannable key at sf0.001 and sf0.01
# and records, from the metrics of its executed plans (the top-level one
# and every checkpoint-hidden one), the rows through each SinglePartition
# exchange, on each BNLJ broadcast side and on each side of each
# Cartesian.  The tests below pin the committed sp_audit.json: it is the
# audit of today's plans, and every measured side passes
# tools/sp_bounds.py's one rule.


def _sp_audit() -> dict:
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "sp_audit.json")
    with open(path) as f:
        return json.load(f)


def test_sp_audit_covers_current_registry():
    """The committed audit ran over exactly today's plans: each audited
    key's plan fingerprint equals the committed plan manifest's.  And it
    recorded every key whose manifest shows a SinglePartition exchange,
    a BNLJ or a Cartesian in any plan, top-level or checkpoint-hidden.
    Adding a key, or changing a plan, without re-running
    tools/sp_audit.py fails here first."""
    manifest = {k: e for k, e in load().items() if k not in SKIP}
    audit = _sp_audit()
    stale = sorted(
        k for k in manifest.keys() | audit["fps"].keys()
        if manifest.get(k, {}).get("fp") != audit["fps"].get(k)
    )
    assert not stale, f"sp_audit.json is stale for {stale} — rerun tools/sp_audit.py"
    unmeasured = sorted(
        k for k, e in manifest.items()
        if k not in audit["keys"]
        and (e["hidden"] or e["single_part"] or e["bnlj"] or e["cartesian"])
    )
    assert not unmeasured, f"no sp_audit.json record for {unmeasured}"


def test_measured_plan_sides_all_bounded():
    """Every SinglePartition exchange, BNLJ broadcast side and smaller
    Cartesian side in every audited plan stayed under its cap at both
    scale factors, and no side past 64 rows grew with the data (10x
    input -> <=3x rows, node by node): no entity-sized relation funnels
    through one reducer or meets every row of another."""
    assert not classify_offenders(_sp_audit()["keys"])


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
