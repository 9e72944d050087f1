"""Scale-pattern queries: each pattern must leave results unchanged
(verified by the plain-SQL oracle) while changing the plan shape
(verified by tests/test_plans_physical.py / test_scale.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.scale import (
    global_rank,
    bucketed_join,
    ensure_bucketed,
    incremental_rollup_merge,
    salted_join,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query


@query(
    "join_bucketed",
    oracle="""
    SELECT o_orderkey,
           COUNT(*) AS n_items,
           FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing: both facts persisted bucketed+sorted
    on the join key, so the join runs with no exchange — the recurring
    orders⋈lineitem shuffle eliminated (the bucketed-table analog of the
    reference's clustered BigQuery tables). Results identical to the
    plain join, which is the oracle.

    The bucketed layout is the amortized pattern: written once per
    source dataset (deterministic names keyed on sf_dir), reused by
    every later session via ``ensure_bucketed``."""
    import hashlib

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    t_o, t_li = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    ensure_bucketed(o, t_o, ["k"], 8)
    ensure_bucketed(li, t_li, ["k"], 8)
    joined = bucketed_join(spark, t_o, t_li, ["k"])
    return joined.groupBy(F.col("k").alias("o_orderkey")).agg(
        F.count("*").alias("n_items"),
        roundn(F.sum("l_quantity")).alias("total_qty"),
    )


@query(
    "join_salted",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           FLOOR(SUM(l_extendedprice) * 100.0 + 0.5) / 100.0 AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the fact side salted by line number, the other
    side replicated per salt — hot orderkeys spread over 8 reducers.
    Results identical to the plain join (the oracle); the plan-shape
    effect is asserted in tests."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    joined = salted_join(li, o, "k", salt_buckets=8, salt_source="l_linenumber")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        roundn(F.sum("l_extendedprice")).alias("total_price"),
    )


@query(
    "agg_salted_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted exact COUNT(DISTINCT): the two-stage pattern for a
    distinct-count over few hot group keys (here 5 priorities over the
    whole fact — each key's distinct set is huge at 100 TB and a plain
    countDistinct funnels every key's values through one reducer).

    Stage 1 groups by (key, salt) where salt = pmod(value, 16) — derived
    from the DISTINCT VALUE, so each distinct value lands in exactly one
    cell and per-cell counts are disjoint; stage 2 sums the partial
    counts. Both shuffles are spread over 16× more reducers than keys.
    Identical results to the plain distinct-count (the oracle).
    """
    o = load_table(spark, sf_dir, "orders")
    partial = (
        o.groupBy(
            "o_orderpriority",
            F.pmod(F.col("o_custkey"), F.lit(16)).alias("_salt"),
        )
        .agg(F.countDistinct("o_custkey").alias("part"))
    )
    return partial.groupBy("o_orderpriority").agg(
        F.sum("part").cast("bigint").alias("n_distinct_cust")
    )


@query(
    "agg_incremental",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           event_type,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS value_sum,
           COUNT(*) AS n_cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_incremental(
    spark: SparkSession, sf_dir: str, boundary=None
) -> DataFrame:
    """Incremental materialization: two loads (before/after the load
    ``boundary``) each aggregate only their own rows; partial rollups
    merge associatively into totals identical to a full-history scan
    (the oracle). At 100 TB each run touches only its load.

    ``boundary``: the load-window split timestamp. A real incremental
    pipeline passes its known watermark; the default derives the stream
    midpoint as a broadcast one-row scalar joined into the plan — fully
    distributed, no driver-side collect.
    """
    ev = load_table(spark, sf_dir, "events")
    if boundary is not None:
        below = F.col("ts") < F.lit(boundary)
        above = F.col("ts") >= F.lit(boundary)
        lo, hi = ev.filter(below), ev.filter(above)
    else:
        mid = ev.agg(
            F.timestamp_micros(
                F.avg(F.unix_micros("ts")).cast("long")
            ).alias("_load_boundary")
        )
        with_mid = ev.join(F.broadcast(mid))
        lo = with_mid.filter(F.col("ts") < F.col("_load_boundary"))
        hi = with_mid.filter(F.col("ts") >= F.col("_load_boundary"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        ).agg(
            F.sum("value").alias("value_raw_sum"),
            F.count("*").alias("n_cnt"),
        )

    load1 = partial(lo)
    load2 = partial(hi)
    merged = incremental_rollup_merge([load1, load2], ["day", "event_type"])
    return merged.select(
        "day", "event_type",
        roundn(F.col("value_raw_sum")).alias("value_sum"),
        "n_cnt",
    )


@query("sketch_hll_rollup", oracle=None)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the 100 TB distinct-count pattern): one
    Datasketches HLL partial per (event_type, day) — the only pass over
    raw data — then monthly distinct-users per type by *unioning the
    sketches*, never re-scanning raw. This is the associative shape that
    lets a 1000-executor cluster maintain daily partials and answer
    arbitrary-range distinct queries from kilobytes of state
    (vs agg_salted_distinct, which pays an exact two-stage shuffle).

    Rows-only: sketch estimates are engine-specific (DuckDB's HLL differs
    bit-for-bit); the ±2% envelope vs exact is asserted in
    tests/test_scale.py.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
    monthly = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        F.count("*").alias("n_partials"),
    )
    return monthly


from contextlib import contextmanager


@contextmanager
def bloom_filter_scope(spark: SparkSession):
    """Scope the confs that let the runtime bloom-filter demo trigger at
    test scale: the injection rule requires the application side to scan
    ≥ 10 GiB by default (never true at sf≤0.1), and a broadcastable
    creation side would take the broadcast/DPP path instead. At 100 TB
    NEITHER override exists — the default thresholds fire naturally on
    any selective dim filter joined to a big fact over a shuffle. Always
    restores the session's originals."""
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan for join_bloom_pruned (split out so the plan-shape
    test can explain() it inside bloom_filter_scope)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            roundn(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("net_revenue"),
        )
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
               AS net_revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
    GROUP BY o_orderpriority
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join (Spark's runtime row-level filtering):
    the selective dim-side predicate builds a bloom filter
    (bloom_filter_agg) that is pushed into the fact scan as
    might_contain(xxhash64(key)) BEFORE the shuffle — most fact rows die
    at the scan instead of being hashed, serialized and shuffled to a
    join task that discards them. The semi-join-reduction pattern Spark
    applies automatically at warehouse scale; results are provably
    unchanged (plain-join oracle).

    The demo materializes inside bloom_filter_scope because the physical
    plan binds at ACTION time — scoped confs must still be set when the
    job runs, and the result (a handful of agg rows) checkpoint-pins the
    computed output. tests/test_plans_physical.py asserts might_contain
    lands in the fact scan's filter."""
    with bloom_filter_scope(spark):
        return bloom_pruned_join(spark, sf_dir).localCheckpoint()


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bucketed roaring-style bitmaps
    (Spark 3.5 bitmap aggregates) — the third point on the
    distinct-count design curve beside agg_salted_distinct (exact,
    two-stage shuffle of keys) and sketch_hll_rollup (approximate,
    mergeable): per (group, bucket-of-32768-ids) partial bitmaps built
    map-side, OR-merged per group, popcounted. Exact like the salted
    form, but the merge state is fixed-size bitmap bytes instead of the
    key stream — and like HLL the partials are mergeable across days
    without rescanning raw data.

    100 TB: shuffle carries one ≤4 KB bitmap per (group, bucket) —
    bounded by the id-space/32768, not by row count; integer ids are
    the precondition (string keys first map through a dictionary, or
    fall back to the salted/HLL forms).
    """
    ev = load_table(spark, sf_dir, "events")
    partials = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return partials.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").cast("bigint").alias("n_distinct_users")
    )


# ---------------------------------------------------------------------------
# exact distributed quantiles, two-pass (r3q wave)
# ---------------------------------------------------------------------------

#: pass-1 histogram bucket width (cents) — ~$1000 buckets over o_totalprice
_Q2P_WIDTH = 100000
#: TPC-H order totals stay below $600k: under 600 buckets of $1000
_Q2P_MAX_BUCKETS = 1000

#: quantiles as exact rationals (numerator, denominator)
_Q2P_PS = ((1, 2), (9, 10), (99, 100))


def _q2p_oracle() -> str:
    arms = []
    for num, den in _Q2P_PS:
        arms.append(f"""
    SELECT CAST({num}.0e0 / {den} AS DOUBLE) AS p, n.n,
           ({num} * n.n + {den} - 1) // {den} AS target_rank,
           (SELECT v FROM r
            WHERE rn = ({num} * n.n + {den} - 1) // {den}) AS exact_cents
    FROM n""")
    return f"""
    WITH c AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
        FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM c)
    {" UNION ALL ".join(arms)}
    ORDER BY p
    """


@query("quantile_exact_twopass", oracle=_q2p_oracle())
def quantile_exact_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles (p50/p90/p99 of order totals, type-1
    / percentile_disc semantics) without ever globally sorting the
    data: pass 1 builds a fixed-width histogram and locates the bucket
    holding each target rank (bucket table is domain-bounded — a few
    hundred rows — and collected as a bounds lookup, the sanctioned
    driver-scalar class); pass 2 reads ONLY the boundary bucket and
    takes its r-th smallest via orderBy+limit (TakeOrderedAndProject —
    per-partition heaps, never a global sort). The exact complement to
    agg_percentile_approx: this is how you get the real p99 out of
    100 TB when the SLA number must be exact, at the cost of a second
    (heavily filtered) scan.

    Exactness: values are integer cents; target ranks use the integer
    form ceil(p·n) = (num·n + den − 1) // den so no float ever touches
    a rank; the returned value is a row value, not an interpolation.

    100 TB: pass 1 is one map-side-combined groupBy over ~10²-10³
    buckets; each pass-2 arm filters to ~n/buckets rows before the
    limit-r heap. The histogram collect is O(buckets), independent of
    n."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("v")
    )
    c = c.localCheckpoint(eager=False)  # histogram + 3 pass-2 consumers
    hist = collect_bounded(
        c.groupBy((F.col("v") - F.pmod(F.col("v"), _Q2P_WIDTH)).alias("b"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("b"),
        _Q2P_MAX_BUCKETS,
        "order-total histogram",
    )
    n = sum(r.cnt for r in hist)
    arms = []
    for num, den in _Q2P_PS:
        k = (num * n + den - 1) // den
        cum = 0
        for row in hist:
            if cum + row.cnt >= k:
                bucket, rank_in_bucket = row.b, k - cum
                break
            cum += row.cnt
        arm = (
            c.filter(
                (F.col("v") >= bucket) & (F.col("v") < bucket + _Q2P_WIDTH)
            )
            .orderBy("v")
            .limit(rank_in_bucket)
            .agg(F.max("v").alias("exact_cents"))
            .select(
                F.lit(num / den).alias("p"),
                F.lit(n).cast("long").alias("n"),
                F.lit(k).cast("long").alias("target_rank"),
                "exact_cents",
            )
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("p")


# ---------------------------------------------------------------------------
# balanced range-partition planning (r3s wave)
# ---------------------------------------------------------------------------

#: planned partition count
_RPP_B = 8


def _rpp_oracle() -> str:
    b = _RPP_B
    return f"""
    WITH c AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
        FROM orders),
    pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY v),
    cum AS (
        SELECT v, cnt,
               SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM pv),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pv),
    ks AS (
        SELECT t.i, (t.i * tot.n + {b} - 1) // {b} AS k
        FROM range(1, {b}) t(i), tot),
    bnd AS (
        SELECT ks.i, MIN(cum.v) AS bv
        FROM ks JOIN cum ON cum.cc >= ks.k
        GROUP BY ks.i),
    asg AS (
        SELECT pv.v, pv.cnt,
               1 + (SELECT COUNT(*) FROM bnd WHERE bnd.bv < pv.v) AS p
        FROM pv)
    SELECT CAST(p AS BIGINT) AS partition_id,
           MIN(v) AS lo_cents, MAX(v) AS hi_cents,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           {sql_roundn(f"SUM(cnt) * {b}.0e0 / (SELECT n FROM tot)", 6)}
               AS balance_ratio
    FROM asg GROUP BY p ORDER BY partition_id
    """


@query("range_partition_plan", oracle=_rpp_oracle())
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced RANGE-PARTITIONER planning (what RangePartitioner /
    Iceberg sort-order writers do before a write): boundary values for
    {b} partitions of orders by total price are the exact type-1
    quantiles at rank ceil(i·n/{b}), every row with b_(i−1) < v ≤ b_i
    lands in partition i (VALUE-based, so equal keys can never split —
    the correctness property row-ntile lacks), and each planned
    partition reports its bounds, row count, and balance ratio
    (n_rows·{b}/n; 1.0 = perfectly level, >1 = the skew a heavy tie
    group forces). The write-side planning complement to skew_profile's
    read-side diagnosis.

    Exactness: ranks use integer ceil arithmetic ((i·n+{b}−1)//{b});
    boundaries come from an integer cumulative over the distinct-VALUE
    table; only the balance ratio divides, identical-tree.

    100 TB: this is Spark's own reservoir-sample boundary estimation
    done EXACTLY — the cumulative window runs over the value DOMAIN
    (bounded — the histogram_values argument), the {bm1}-row boundary
    table broadcasts into the assignment, and nothing sorts raw rows.
    For continuous (tie-free) keys sampled boundaries suffice; the
    exact form matters exactly when ties are heavy and a sampled
    splitter would silently split a tie group."""
    b = _RPP_B
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    pv = (
        orders.select(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v")
        )
        .groupBy("v")
        .agg(F.count("*").alias("cnt"))
    )
    pv = pv.localCheckpoint(eager=False)  # cum + totals + assignment
    # two-phase cumulative over the value table: for a CONTINUOUS key
    # (prices) the distinct-value relation is itself entity-sized, so a
    # bare Window.orderBy(v) would single-reducer it — global_rank's
    # range-exchange + __pid-offsets form keeps the only SinglePartition
    # exchange at shuffle-partition cardinality (sp_audit.json r5 catch:
    # 1500→14999 rows through the old exchange at sf0.001→sf0.01)
    cum = global_rank(
        pv, [F.col("v")], rank_col="__rn", cumsum_col="cc", value_col="cnt"
    ).select("v", "cnt", F.col("cc").cast("long").alias("cc"))
    tot = pv.agg(F.sum("cnt").alias("n"))
    ks = (
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(b - 1))).alias("i"), "n"
        )
        # integer DIV, not double division: (i·n+b−1)/b through a double
        # loses exactness past 2^53 (the corpus_apportion_budget rule)
        .select("i", F.expr(f"(i * n + {b - 1}) DIV {b}").alias("k"))
    )
    bnd = (
        cum.join(F.broadcast(ks), cum["cc"] >= ks["k"])
        .groupBy("i")
        .agg(F.min("v").alias("bv"))
    )
    asg = (
        pv.join(F.broadcast(bnd), pv["v"] > bnd["bv"], "left")
        .groupBy("v", "cnt")
        .agg((1 + F.count("bv")).alias("p"))
    )
    return (
        asg.groupBy(F.col("p").cast("long").alias("partition_id"))
        .agg(
            F.min("v").alias("lo_cents"),
            F.max("v").alias("hi_cents"),
            F.sum("cnt").alias("n_rows"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "partition_id",
            "lo_cents",
            "hi_cents",
            "n_rows",
            roundn(
                F.col("n_rows") * F.lit(float(b)) / F.col("n"), 6
            ).alias("balance_ratio"),
        )
        .orderBy("partition_id")
    )


range_partition_plan.__doc__ = range_partition_plan.__doc__.format(
    b=_RPP_B, bm1=_RPP_B - 1
)


# ---------------------------------------------------------------------------
# equi-depth histogram (r5h wave)
# ---------------------------------------------------------------------------

#: histogram bins (the ANALYZE TABLE statistics object size)
_EQD_BINS = 10


@query(
    "histogram_equidepth",
    oracle=f"""
    WITH v AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents
        FROM orders),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    rk AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rn
        FROM v),
    b AS (
        SELECT CAST(((rk.rn - 1) * {_EQD_BINS}) // t.n AS INT) AS bin,
               rk.cents
        FROM rk, t),
    per AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(cents) AS BIGINT) AS lo_cents,
               CAST(MAX(cents) AS BIGINT) AS hi_cents,
               CAST(COUNT(DISTINCT cents) AS BIGINT) AS ndv
        FROM b GROUP BY 1)
    SELECT per.bin, per.n_rows, per.lo_cents, per.hi_cents, per.ndv,
           FLOOR(SUM(per.n_rows) OVER (ORDER BY per.bin) * 1.0e0 / t.n
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS cum_frac
    FROM per, t
    ORDER BY per.bin
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling tier, optimizer-statistics rung — the EQUI-DEPTH
    histogram (`histogram_values` is equi-WIDTH: fixed buckets,
    data-dependent counts; this is the dual: fixed counts,
    data-dependent boundaries — what ANALYZE TABLE builds, because
    uniform-population bins bound selectivity-estimate error on skewed
    columns where equi-width piles everything into two buckets):
    {b} bins over order totals with per-bin boundaries, population,
    NDV, and cumulative fraction.

    Exactness: bin id is pure integer (rn−1)·B DIV N off a
    deterministic (cents, key) total order; boundaries/counts/NDV are
    exact integers; cum_frac is one division quantized at 1e-6.

    100 TB: ranking via the two-phase ``global_rank`` — range exchange
    + per-partition row_number + broadcast offsets, no single-reducer
    sort; per-bin stats are map-side combined; the cumulative window
    runs over {b} rows."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    rk = global_rank(v, [F.col("cents"), F.col("o_orderkey")], rank_col="rn")
    t = rk.agg(F.count("*").cast("long").alias("n"))
    b = rk.crossJoin(F.broadcast(t)).select(
        F.expr(f"CAST(((rn - 1) * {_EQD_BINS}) DIV n AS INT)").alias("bin"),
        "cents",
    )
    per = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.countDistinct("cents").cast("long").alias("ndv"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_rows",
            "lo_cents",
            "hi_cents",
            "ndv",
            roundn(
                F.sum("n_rows").over(w) * F.lit(1.0) / F.col("n").cast("double"),
                6,
            ).alias("cum_frac"),
        )
        .orderBy("bin")
    )
