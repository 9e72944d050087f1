"""Semantic tests for SQL-surface wave 7 (plans/relational_ext7.py):
quantified-ALL rewrite equivalence, inline-VALUES tier accounting,
shared-CTE physical reuse, and bag-semantics multiplicity laws.

Value correctness is covered by the auto-parametrized differential
suite; these pin the operator *properties* — the algebraic identities
the rewrites must satisfy independent of the fixture's numbers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def test_quantified_all_equals_not_exists_formulation(spark):
    """x > ALL S  ⟺  NOT EXISTS (s ∈ S: s >= x) when S is null-free —
    cross-check the max-aggregate rewrite against the independent
    anti-join formulation, including the vacuous-ALL (empty S) leg."""
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    blockers = cust.alias("c").join(
        supp.alias("s"),
        (F.col("s.s_nationkey") == F.col("c.c_nationkey"))
        & (F.col("s.s_acctbal") >= F.col("c.c_acctbal")),
        "left_semi",
    )
    expected = {
        (r.nationkey, r.n)
        for r in cust.join(blockers.select("c_custkey"), "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        (r.nationkey, r.n_dominant_customers)
        for r in REGISTRY["sql_quantified_all"].spark(spark, SF_DIR).collect()
    }
    assert got == expected and got


def test_quantified_all_vacuous_truth_on_empty_set(spark):
    """A correlation key with an EMPTY subquery set satisfies ALL
    vacuously — every customer of a supplier-less nation must count."""
    cust = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 1.0), (3, 99, -100.0)],
        "c_custkey INT, c_nationkey INT, c_acctbal DOUBLE",
    )
    supp = spark.createDataFrame(
        [(1, 10, 3.0)], "s_suppkey INT, s_nationkey INT, s_acctbal DOUBLE"
    )
    per_nation = supp.groupBy("s_nationkey").agg(
        F.max("s_acctbal").alias("max_bal"), F.count("*").alias("n_sup")
    )
    out = {
        (r.c_nationkey, r.n)
        for r in cust.join(
            per_nation, cust.c_nationkey == per_nation.s_nationkey, "left"
        )
        .filter(F.col("n_sup").isNull() | (F.col("c_acctbal") > F.col("max_bal")))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # nation 10: only the 5.0 customer beats max(3.0); nation 99: no
    # suppliers at all -> its (negative-balance!) customer still counts
    assert out == {(10, 1), (99, 1)}


def test_values_inline_tiers_partition_the_orders(spark):
    rows = REGISTRY["sql_values_inline"].spark(spark, SF_DIR).collect()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert sum(r.n_orders for r in rows) == orders.count()
    by_tier = {r.tier_name: r for r in rows}
    # average order price must sit inside each tier's band
    bands = {
        "micro": (0, 50_000),
        "small": (50_000, 150_000),
        "mid": (150_000, 300_000),
        "large": (300_000, float("inf")),
    }
    for name, (lo, hi) in bands.items():
        if name in by_tier:
            avg = by_tier[name].revenue / by_tier[name].n_orders
            assert lo <= avg < hi, name


def test_cte_reuse_scans_orders_once(spark):
    """The shared CTE must not re-run the fact-side aggregate: exactly
    one orders scan in the physical plan, with the second CTE consumer
    fed by exchange reuse."""
    # AQE defers exchange reuse to runtime re-planning, so inspect the
    # statically-planned tree where ReuseExchange applies at planning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["sql_cte_reuse"].spark(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("orders.parquet") == 1, plan
    assert "ReusedExchange" in plan


def test_vocab_coverage_bounds_and_head_membership(spark):
    """OOV accounting laws: 0 <= n_oov <= n_tokens, rate consistent,
    and the corpus's single most frequent token is always in-vocab, so
    no document consisting of head tokens may score OOV > 0."""
    rows = REGISTRY["vocab_coverage"].spark(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert abs(r.oov_rate - round(r.n_oov / r.n_tokens, 4)) < 2e-4
    # VOCAB_K < corpus vocabulary (pinned below) -> OOV must exist
    assert any(r.n_oov > 0 for r in rows)
    from gcp_de_data_pipeline_cc_spark.plans.corpus3 import VOCAB_K

    n_vocab = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t"))
        .first()[0]
    )
    assert VOCAB_K < n_vocab, "coverage audit must be non-vacuous at test scale"


def test_dedup_prefix_group_invariants(spark):
    rows = REGISTRY["dedup_prefix"].spark(spark, SF_DIR).collect()
    assert rows, "fixture corpus contains exact/near dups by design"
    by_keeper = {}
    for r in rows:
        assert r.group_size >= 2
        assert r.keeper_doc_id <= r.doc_id or not r.is_keeper
        assert r.is_keeper == (r.doc_id == r.keeper_doc_id)
        by_keeper.setdefault(r.keeper_doc_id, []).append(r)
    for keeper, members in by_keeper.items():
        assert sum(1 for m in members if m.is_keeper) == 1
        assert len(members) == members[0].group_size


def test_corpus_zipf_profile_shape(spark):
    from gcp_de_data_pipeline_cc_spark.plans.corpus3 import ZIPF_K

    r = REGISTRY["corpus_zipf"].spark(spark, SF_DIR).first()
    assert r.zipf_slope < 0  # frequency falls with rank, always
    assert 0.0 <= r.fit_r2 <= 1.0
    assert r.n_fitted == min(ZIPF_K, r.vocab_size)
    assert ZIPF_K < r.vocab_size, "the top-K cut must be real at test scale"


def test_zipf_topk_cut_avoids_global_sort(spark):
    """The rank window must run over the top-K cut, not the vocabulary:
    TakeOrderedAndProject appears below the window in the plan."""
    df = REGISTRY["corpus_zipf"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan


def test_corr_matrix_is_bounded_and_symmetric_complete(spark):
    """Pearson r ∈ [−1, 1]; exactly C(4,2)=6 unordered pairs, each
    once, with a shared row count."""
    rows = REGISTRY["agg_corr_matrix"].spark(spark, SF_DIR).collect()
    assert len(rows) == 6
    assert len({(r.x_var, r.y_var) for r in rows}) == 6
    assert len({r.n for r in rows}) == 1
    for r in rows:
        assert r.x_var != r.y_var
        assert -1.0 - 1e-6 <= r.pearson_r <= 1.0 + 1e-6


def test_chisq_nonnegative_and_dof_matches_table(spark):
    r = REGISTRY["hypothesis_chisq"].spark(spark, SF_DIR).first()
    assert r.chi2_stat >= 0
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_r = o.select("o_orderpriority").distinct().count()
    n_c = o.select("o_orderstatus").distinct().count()
    assert r.dof == (n_r - 1) * (n_c - 1)
    assert r.n == o.count()


def test_autocorr_bounded_and_lag1_of_constant_series(spark):
    rows = REGISTRY["ts_autocorr"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for v in (r.acf1, r.acf24):
            if v is not None:
                assert -1.0 - 1e-6 <= v <= 1.0 + 1e-6


def test_triangles_each_counted_three_times_total(spark):
    """Σ per-node triangle participation = 3 × the number of distinct
    triangles (each triangle has exactly 3 corners) — recompute the
    distinct-triangle total independently from the backbone edges."""
    from gcp_de_data_pipeline_cc_spark.operators.graph import SUPPLIER_K

    rows = REGISTRY["graph_triangles"].spark(spark, SF_DIR).collect()
    assert rows, "fixture kNN backbone must contain triangles"
    total_participation = sum(r.n_triangles for r in rows)
    assert total_participation % 3 == 0
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    pl = li.select("l_orderkey", "l_suppkey").distinct()
    e = (
        pl.alias("a")
        .join(
            pl.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb"))
        .agg(F.count("*").alias("w"))
    )
    # rebuild the kNN backbone driver-side, independently of the plan
    w_of = {(r.sa, r.sb): r.w for r in e.collect()}
    nbrs = {}
    for (sa, sb), w in w_of.items():
        nbrs.setdefault(sa, []).append((w, sb))
        nbrs.setdefault(sb, []).append((w, sa))
    edges = set()
    for u, lst in nbrs.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for _, v in lst[:SUPPLIER_K]:
            edges.add((min(u, v), max(u, v)))
    # every backbone node keeps at most K selected partners; edge count
    # is bounded by K*n — the linear-growth property the design buys
    assert len(edges) <= SUPPLIER_K * len(nbrs)
    n_tri = sum(
        1
        for (a, b) in edges
        for (b2, c) in edges
        if b2 == b and (a, c) in edges
    )
    assert total_participation == 3 * n_tri


def test_exists_subquery_decorrelates_to_semi_and_anti(spark):
    df = REGISTRY["sql_exists_subquery"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_qualify_rewrite_topn_and_group_limit(spark):
    rows = REGISTRY["sql_qualify"].spark(spark, SF_DIR).collect()
    per_type = {}
    for r in rows:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + 1
    assert per_type and all(v <= 3 for v in per_type.values())
    df = REGISTRY["sql_qualify"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "WindowGroupLimit" in plan


def test_window_clause_shares_one_window_node(spark):
    """Three OVER w aggregates on one named window must land in a
    single Window physical node (one shuffle, one sort)."""
    df = REGISTRY["sql_window_clause"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    headers = re.findall(r"\(\d+\) Window\b", plan)
    assert len(headers) == 1, plan


def test_moments_match_sparks_population_builtins(spark):
    """The power-sum formulation must agree with Spark's own population
    skewness()/kurtosis() — an independent second implementation."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    builtin = {
        r.event_type: (r.sk, r.ku)
        for r in ev.groupBy("event_type")
        .agg(
            F.skewness("value").alias("sk"), F.kurtosis("value").alias("ku")
        )
        .collect()
    }
    for r in REGISTRY["agg_moments"].spark(spark, SF_DIR).collect():
        sk, ku = builtin[r.event_type]
        assert abs(r.skewness_g1 - sk) < 1e-3
        assert abs(r.kurtosis_excess - ku) < 1e-3


def test_quantize_error_obeys_half_step_bound(spark):
    """Symmetric int8 half-up quantization can never err more than half
    a step: max_abs_err <= scale/2, and mse <= (scale/2)^2."""
    rows = REGISTRY["embedding_quantize"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        half = r.scale / 2
        assert r.max_abs_err <= half + 1e-8
        assert 0 <= r.mse <= half * half + 1e-8


def test_twap_segment_accounting_and_bounds(spark):
    """n_segments = n_events − 1 per series (last point holds nothing),
    and a weighted average of the cents grid stays within value bounds
    (rounding slack: cents snap + final 1e-4)."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    counts = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    rows = REGISTRY["ts_twap"].spark(spark, SF_DIR).collect()
    assert {r.event_type for r in rows} == set(counts)
    for r in rows:
        assert r.n_segments == counts[r.event_type] - 1
        lo, hi = bounds[r.event_type]
        assert lo - 0.006 <= r.twap <= hi + 0.006


def test_sorted_neighborhood_candidate_budget_and_threshold(spark):
    from gcp_de_data_pipeline_cc_spark.plans.corpus3 import (
        SNM_THRESHOLD,
        SNM_WINDOW,
    )

    rows = REGISTRY["dedup_sorted_neighborhood"].spark(spark, SF_DIR).collect()
    assert rows, "fixture near-dup families must surface SNM pairs"
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) <= (SNM_WINDOW - 1) * n_docs  # linear candidate law
    for r in rows:
        assert r.doc_a != r.doc_b
        assert r.jaccard >= SNM_THRESHOLD - 1e-4


def test_weighted_median_defining_property(spark):
    """At least half the total weight sits at-or-below the weighted
    median and at least half at-or-above — checked against raw data."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for r in REGISTRY["agg_weighted_median"].spark(spark, SF_DIR).collect():
        grp = li.filter(F.col("l_returnflag") == r.l_returnflag)
        tot = grp.agg(F.sum("l_quantity")).first()[0]
        below = (
            grp.filter(F.col("l_extendedprice") <= r.weighted_median)
            .agg(F.sum("l_quantity"))
            .first()[0]
        )
        above = (
            grp.filter(F.col("l_extendedprice") >= r.weighted_median)
            .agg(F.sum("l_quantity"))
            .first()[0]
        )
        assert 2 * below >= tot - 1e-6
        assert 2 * above >= tot - 1e-6
        assert abs(r.total_weight - tot) < 1e-6


def test_gini_bounds_and_degenerate_zero(spark):
    """G ∈ [0, 1); an all-equal distribution scores exactly 0 under the
    same formula (checked on a constant synthetic frame)."""
    rows = REGISTRY["agg_gini"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0
    vals = [(0, k, 100) for k in range(10)]
    df = spark.createDataFrame(vals, "regionkey INT, o_custkey INT, cents LONG")
    from pyspark.sql.window import Window

    wp = Window.partitionBy("regionkey")
    ranked = df.select(
        "regionkey",
        "cents",
        F.row_number().over(wp.orderBy("cents", "o_custkey")).alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("cents").over(wp).alias("tot"),
    )
    g = (
        ranked.groupBy("regionkey")
        .agg(
            (
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
                .cast("double")
                / (F.max("n").cast("double") * F.max("tot").cast("double"))
            ).alias("gini")
        )
        .first()
        .gini
    )
    assert g == 0.0


def test_pareto_k80_is_minimal_crossing(spark):
    """The reported k80 must be the MINIMAL prefix reaching 80% of
    revenue: top-k80 >= 80% and top-(k80-1) < 80% — checked against a
    driver-side recomputation in exact cents."""
    li_free = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/customer.parquet"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(f"{SF_DIR}/nation.parquet"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_regionkey").alias("rk"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
            ).alias("cents")
        )
        .collect()
    )
    per_region = {}
    for r in li_free:
        per_region.setdefault(r.rk, []).append((r.cents, r.o_custkey))
    for r in REGISTRY["pareto_concentration"].spark(spark, SF_DIR).collect():
        revs = sorted(per_region[r.regionkey], key=lambda t: (-t[0], t[1]))
        tot = sum(c for c, _ in revs)
        cum_k = sum(c for c, _ in revs[: r.k80])
        assert 5 * cum_k >= 4 * tot  # top-k80 reaches 80%
        if r.k80 > 1:
            cum_k1 = cum_k - revs[r.k80 - 1][0]
            assert 5 * cum_k1 < 4 * tot  # k80 - 1 does not
        assert r.n_customers == len(revs)


def test_theilsen_pair_count_and_robustness(spark):
    """n_pairs = C(days, 2) per series; and the estimator's point: on a
    clean linear series with ONE wild outlier day, the pairwise-slope
    median stays at the true slope (OLS would not)."""
    from gcp_de_data_pipeline_cc_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")  # normalizes ts to micros
    days = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct(
                (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint")
            ).alias("d")
        )
        .collect()
    }
    for r in REGISTRY["ts_theilsen"].spark(spark, SF_DIR).collect():
        d = days[r.event_type]
        assert r.n_pairs == d * (d - 1) // 2
    # controlled robustness check: y = 5x, day 7 corrupted to 10_000
    rows = [("s", float(d), 5.0 * d if d != 7 else 10_000.0) for d in range(20)]
    df = spark.createDataFrame(rows, "k string, day double, y double")
    a, b = df.alias("a"), df.alias("b")
    med = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.day") < F.col("b.day")))
        .select(
            ((F.col("b.y") - F.col("a.y")) / (F.col("b.day") - F.col("a.day"))).alias(
                "slope"
            )
        )
        .agg(F.expr("percentile(slope, 0.5d)").alias("m"))
        .first()
        .m
    )
    assert abs(med - 5.0) < 0.5


def test_ttr_accounting_identities(spark):
    rows = REGISTRY["text_ttr"].spark(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows:
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 <= r.n_hapax <= r.n_types
        assert 0.0 < r.ttr <= 1.0
        assert abs(r.ttr - round(r.n_types / r.n_tokens, 4)) < 2e-4


def test_pct_change_null_first_day_and_reconstruction(spark):
    """Each series' first day must be NULL (no prior period), and the
    growth chain must reconstruct: prev · (1 + pct/100) ≈ revenue."""
    rows = REGISTRY["win_pct_change"].spark(spark, SF_DIR).collect()
    assert rows
    series = {}
    for r in rows:
        series.setdefault(r.event_type, []).append(r)
    for days in series.values():
        days.sort(key=lambda r: r.day)
        assert days[0].pct_change is None
        for prev, cur in zip(days, days[1:]):
            assert cur.pct_change is not None
            recon = prev.revenue * (1 + cur.pct_change / 100.0)
            assert abs(recon - cur.revenue) <= max(0.01 * prev.revenue, 0.02)


def test_bag_ops_multiplicity_laws(spark):
    """INTERSECT ALL keeps min(n1,n2) copies per value; EXCEPT ALL keeps
    max(n1-n2, 0) — check the laws per key against branch counts."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    def year_counts(y):
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (
                    F.col("o_orderdate")
                    < F.lit(f"{y + 1}-01-01").cast("timestamp")
                )
            )
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    n94 = {r.o_custkey: r.n for r in year_counts(1996)}
    n95 = {r.o_custkey: r.n for r in year_counts(1997)}

    inter = REGISTRY["set_intersect_all"].spark(spark, SF_DIR).collect()
    got_i = {}
    for r in inter:
        got_i[r.o_custkey] = got_i.get(r.o_custkey, 0) + 1
    want_i = {
        k: min(n94[k], n95[k]) for k in n94 if k in n95 and min(n94[k], n95[k])
    }
    assert got_i == want_i

    exc = REGISTRY["set_except_all"].spark(spark, SF_DIR).collect()
    got_e = {}
    for r in exc:
        got_e[r.o_custkey] = got_e.get(r.o_custkey, 0) + 1
    want_e = {
        k: n94[k] - n95.get(k, 0) for k in n94 if n94[k] - n95.get(k, 0) > 0
    }
    assert got_e == want_e
