"""Statistical and higher-order-function coverage wave.

Extends SURVEY.md §2.5/§2.8 with the aggregate families the reference's
downstream dbt/Dataflow consumers use for profiling and anomaly
detection (ref: dags/pipeline_orchestration_dag.py:212 quality tier):
co-moment statistics (corr/covar/stddev/var), argmax-style selection
aggregates (max_by/min_by/count_if), lambda higher-order array
functions, window z-score outlier flagging, and bitwise functions.

Float discipline: co-moment aggregates are order-sensitive in the last
few ulps; every projected statistic is rounded via the shared
``roundn``/``sql_roundn`` helpers with the decimal count chosen so the
cross-engine error (≲1e-9 relative) sits far below the rounding step
(SURVEY.md §7 "what's hard" #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query


@query(
    "fn_higher_order",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               generate_series(1, o_orderkey % 5 + 1) AS sq
        FROM orders)
    SELECT o_orderkey,
           array_to_string(sq, ',') AS seq_csv,
           CAST(list_sum(list_transform(sq, x -> x * x)) AS BIGINT)
               AS sum_sq,
           CAST(len(list_filter(sq, x -> x % 2 = 0)) AS INT) AS n_even,
           len(list_filter(sq, x -> x > 3)) > 0 AS has_gt3,
           array_to_string(
               list_transform(generate_series(1, len(sq)),
                              i -> CAST(sq[i] + sq[len(sq) - i + 1]
                                        AS VARCHAR)), ',') AS zip_csv
    FROM t
    """,
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6-extension — lambda higher-order functions over arrays:
    sequence generation, transform, filter, aggregate (fold), exists,
    zip_with. All evaluate inside codegen (no UDF, no explode/regroup
    shuffle) — the scale-safe way to do per-row array compute, vs the
    explode→groupBy pattern which shuffles every element."""
    o = load_table(spark, sf_dir, "orders")
    sq = F.sequence(F.lit(1).cast("bigint"), F.pmod("o_orderkey", F.lit(5)) + 1)
    d = o.select("o_orderkey", sq.alias("sq"))
    return d.select(
        "o_orderkey",
        F.array_join(F.transform("sq", lambda x: x.cast("string")), ",").alias(
            "seq_csv"
        ),
        F.aggregate(
            F.transform("sq", lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.size(F.filter("sq", lambda x: x % 2 == 0)).alias("n_even"),
        F.exists("sq", lambda x: x > 3).alias("has_gt3"),
        F.array_join(
            F.zip_with(
                "sq",
                F.reverse("sq"),
                lambda a, b: (a + b).cast("string"),
            ),
            ",",
        ).alias("zip_csv"),
    )


@query(
    "agg_argmax",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_totalprice, o_orderkey) AS latest_price,
           arg_min(o_totalprice, o_orderkey) AS first_price,
           arg_max(o_custkey, o_orderkey) AS latest_cust,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — selection aggregates: max_by/min_by (argmax over an
    ordering column) and count_if. The ordering column is o_orderkey —
    unique by construction — so the selected row is deterministic on
    both engines (max_by over a column with ties is engine-arbitrary;
    never pair it with an oracle). Selected values are raw column reads,
    so they compare bit-exact without rounding. Single hash-aggregate,
    map-side partials — scale-safe."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_totalprice", "o_orderkey").alias("latest_price"),
        F.min_by("o_totalprice", "o_orderkey").alias("first_price"),
        F.max_by("o_custkey", "o_orderkey").alias("latest_cust"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
    )


@query(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           {sql_roundn("corr(l_quantity, l_extendedprice)", 6)} AS corr_qty_price,
           {sql_roundn("covar_samp(l_quantity, l_extendedprice)", 2)} AS covar_qty_price,
           {sql_roundn("stddev_samp(l_quantity)", 4)} AS std_qty,
           {sql_roundn("var_samp(l_quantity)", 2)} AS var_qty,
           {sql_roundn("regr_slope(l_extendedprice, l_quantity)", 4)} AS slope_price_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — co-moment statistics per group: Pearson correlation,
    sample covariance/variance/stddev, and OLS slope (regr_slope). All
    are single-pass mergeable co-moments (count/mean/M2/co-M2), so they
    aggregate map-side and shuffle one small record per group — the same
    scale shape as SUM. Rounding step per column is ≥1e4× the worst-case
    cross-engine combine-order error for its magnitude."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        roundn(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        roundn(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        roundn(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        roundn(F.var_samp("l_quantity"), 2).alias("var_qty"),
        roundn(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope_price_qty"
        ),
    )


@query(
    "anomaly_zscore",
    oracle=f"""
    WITH z AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               (o_totalprice - AVG(o_totalprice)
                   OVER (PARTITION BY o_orderpriority))
               / STDDEV_SAMP(o_totalprice)
                   OVER (PARTITION BY o_orderpriority) AS zscore
        FROM orders)
    SELECT o_orderkey, o_orderpriority,
           {sql_roundn("zscore", 4)} AS zscore
    FROM z
    WHERE zscore > 1.5
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier anomaly detection: per-group z-score over an
    unbounded window, flag rows > 1.5σ above the group mean (the synthetic totalprice is
    near-uniform — max |z| ≈ 1.78 — so a 3σ threshold would select nothing). One shuffle
    on the partition key; mean/stddev are computed in the same window
    pass (no self-join with a pre-aggregated stats table — the window
    formulation halves the scans). Threshold filters on the unrounded
    score; continuous doubles make an exact-threshold boundary tie
    probability-zero. At 100 TB the partition key must be chosen
    low-skew or salted first (see skew_profile)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    z = (F.col("o_totalprice") - F.avg("o_totalprice").over(w)) / F.stddev_samp(
        "o_totalprice"
    ).over(w)
    return (
        o.select("o_orderkey", "o_orderpriority", z.alias("zscore"))
        .filter(F.col("zscore") > 1.5)
        .select("o_orderkey", "o_orderpriority", roundn(F.col("zscore"), 4).alias("zscore"))
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS and_mask,
           o_orderkey | 16 AS or_flag,
           xor(o_orderkey, 85) AS xor_pat,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3,
           CAST(bit_count(o_orderkey) AS INT) AS popcount
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-extension — bitwise operators: AND/OR/XOR masks, shifts,
    popcount. Pure codegen projections (hash bucketing, bitmap flags,
    feature hashing all reduce to these); no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("and_mask"),
        F.expr("o_orderkey | 16").alias("or_flag"),
        F.expr("o_orderkey ^ 85").alias("xor_pat"),
        F.shiftleft("o_orderkey", 2).alias("shl2"),
        F.shiftright("o_orderkey", 3).alias("shr3"),
        F.bit_count("o_orderkey").alias("popcount"),
    )


@query(
    "agg_array_collect",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
        FROM orders)
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS first_keys,
           CAST(COUNT(*) AS INT) AS n_kept
    FROM r WHERE rn <= 5
    GROUP BY o_orderpriority
    """,
)
def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/F6-extension — ordered array-collect aggregation: the first 5
    order keys per priority as one delimited value. collect_list is
    unordered by contract, so determinism comes from sort_array AFTER
    collection — never from input order (which shuffles destroy); the
    rank-window pre-filter (WindowGroupLimit-pruned) bounds the
    collected array to k elements per group, which is what makes a
    collect aggregate safe at scale (unbounded collect_list on a hot
    group is an executor OOM). Array projected to a string because the
    comparator hashes scalar cells."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    rn = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", rn.alias("rn"))
        .filter(F.col("rn") <= 5)
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("first_keys"),
            F.count("*").cast("int").alias("n_kept"),
        )
    )


@query(
    "agg_corr_matrix",
    oracle=f"""
    WITH pairs(x_var, y_var) AS (
        VALUES ('l_quantity', 'l_extendedprice'),
               ('l_quantity', 'l_discount'),
               ('l_quantity', 'l_tax'),
               ('l_extendedprice', 'l_discount'),
               ('l_extendedprice', 'l_tax'),
               ('l_discount', 'l_tax')),
    m AS (
        SELECT {sql_roundn("corr(l_quantity, l_extendedprice)", 6)} AS c_qp,
               {sql_roundn("corr(l_quantity, l_discount)", 6)} AS c_qd,
               {sql_roundn("corr(l_quantity, l_tax)", 6)} AS c_qt,
               {sql_roundn("corr(l_extendedprice, l_discount)", 6)} AS c_pd,
               {sql_roundn("corr(l_extendedprice, l_tax)", 6)} AS c_pt,
               {sql_roundn("corr(l_discount, l_tax)", 6)} AS c_dt,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem)
    SELECT p.x_var, p.y_var,
           CASE p.x_var || '/' || p.y_var
               WHEN 'l_quantity/l_extendedprice' THEN m.c_qp
               WHEN 'l_quantity/l_discount' THEN m.c_qd
               WHEN 'l_quantity/l_tax' THEN m.c_qt
               WHEN 'l_extendedprice/l_discount' THEN m.c_pd
               WHEN 'l_extendedprice/l_tax' THEN m.c_pt
               ELSE m.c_dt END AS pearson_r,
           m.n
    FROM pairs p CROSS JOIN m
    ORDER BY p.x_var, p.y_var
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — the pairwise Pearson correlation matrix over the
    four lineitem measures, emitted long-form (x_var, y_var, r, n) for
    the 6 unordered pairs: the feature-selection / multicollinearity
    screen a training pipeline runs before fitting anything
    (feature_scale's standardization assumes exactly the moments this
    audits). All six coefficients come from ONE scan — a single
    aggregate computes every co-moment, then the long-form explode is a
    6-row literal join.

    100 TB: one pass, no shuffle beyond the final single-row aggregate
    (partial co-moments combine map-side); the wide-to-long pivot costs
    a 6-row broadcast. For k features this is k²/2 co-moments in one
    aggregate — the known break-even is k ≈ hundreds, far above any
    feature audit."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count("*").alias("n")]
    names = []
    for i, x in enumerate(cols):
        for y in cols[i + 1:]:
            a = f"r_{i}_{cols.index(y)}"
            aggs.append(roundn(F.corr(x, y), 6).alias(a))
            names.append((x, y, a))
    m = li.agg(*aggs)
    stack_expr = ", ".join(f"'{x}', '{y}', {a}" for x, y, a in names)
    return (
        m.selectExpr(
            f"stack({len(names)}, {stack_expr}) AS (x_var, y_var, pearson_r)",
            "n",
        )
        .orderBy("x_var", "y_var")
    )


@query(
    "hypothesis_chisq",
    oracle=f"""
    WITH obs AS (
        SELECT o_orderpriority AS r, o_orderstatus AS c,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM orders GROUP BY 1, 2),
    rt AS (SELECT r, SUM(o) AS row_tot FROM obs GROUP BY 1),
    ct AS (SELECT c, SUM(o) AS col_tot FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT obs.o, rt.row_tot * ct.col_tot / tot.n AS e
        FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot)
    SELECT {sql_roundn("SUM((o - e) * (o - e) / e)", 4)} AS chi2_stat,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
           CAST((SELECT n FROM tot) AS BIGINT) AS n
    FROM cells
    """,
)
def hypothesis_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — Pearson chi-square test of independence between
    order priority and order status: observed cell counts vs the
    marginal-product expectation, chi² = Σ(O−E)²/E with
    (r−1)(c−1) degrees of freedom. The categorical-drift /
    association screen a QC tier runs beside qc_volume_drift's
    count-envelope test — "did the status mix shift within priorities?"
    is exactly an independence question.

    Float discipline: E derives from exact integer counts by one
    division, so both engines compute identical doubles; the only
    rounding is the final statistic.

    100 TB: the contingency table is one groupBy over the scan
    (cardinality r×c — tiny); marginals, totals, and level counts all
    attach as WINDOW aggregates over that r×c table — ONE fact pass.
    The earlier join formulation gave each marginal its own consumer
    subtree and re-ran the orders scan seven times (the
    PLANS.md census finding; Spark reuses exchanges, not
    shared subtrees — the market_basket lesson applied here)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count("*").cast("double").alias("o"))
    w_all = Window.partitionBy()
    cells = obs.select(
        "o",
        (
            F.sum("o").over(Window.partitionBy("r"))
            * F.sum("o").over(Window.partitionBy("c"))
            / F.sum("o").over(w_all)
        ).alias("e"),
        F.sum("o").over(w_all).alias("n"),
        F.size(F.collect_set("r").over(w_all)).alias("n_rows"),
        F.size(F.collect_set("c").over(w_all)).alias("n_cols"),
    )
    return cells.agg(
        roundn(
            F.sum(
                (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
            ),
            4,
        ).alias("chi2_stat"),
        ((F.max("n_rows") - 1) * (F.max("n_cols") - 1))
        .cast("bigint")
        .alias("dof"),
        F.max("n").cast("bigint").alias("n"),
    )


@query(
    "agg_moments",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(value) AS s1,
               SUM(value * value) AS s2,
               SUM(value * value * value) AS s3,
               SUM(value * value * value * value) AS s4
        FROM events GROUP BY 1),
    m AS (
        SELECT event_type, n,
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0e0 * (s1 / n) * (s2 / n)
                   + 2.0e0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0e0 * (s1 / n) * (s3 / n)
                   + 6.0e0 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3.0e0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
        FROM s)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {sql_roundn("mu", 4)} AS mean,
           {sql_roundn("m3 / POW(m2, 1.5e0)", 4)} AS skewness_g1,
           {sql_roundn("m4 / (m2 * m2) - 3.0e0", 4)} AS kurtosis_excess
    FROM m ORDER BY event_type
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — population skewness g1 = m3/m2^1.5 and excess
    kurtosis g2 = m4/m2² − 3 per event type, computed from raw power
    sums (Σx..Σx⁴) with the SAME central-moment expansion on both
    engines. Deliberately NOT the built-in skewness()/kurtosis():
    Spark's are population moments while DuckDB's are bias-corrected
    sample statistics — silently different numbers — so the catalog
    derives both from explicit sums, which also documents the
    one-pass mergeable-state formulation (5 numbers per group).

    100 TB: a single map-side-combinable aggregate; the moment algebra
    happens on the r-row group table. The known caveat of the power-sum
    route — catastrophic cancellation when |mu| >> sigma — doesn't bite
    this value distribution and is the documented trade against a
    second pass."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * mu * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        F.col("s4") / F.col("n")
        - F.lit(4.0) * mu * (F.col("s3") / F.col("n"))
        + F.lit(6.0) * mu * mu * (F.col("s2") / F.col("n"))
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return (
        s.select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            roundn(mu, 4).alias("mean"),
            roundn(m3 / F.pow(m2, F.lit(1.5)), 4).alias("skewness_g1"),
            roundn(m4 / (m2 * m2) - F.lit(3.0), 4).alias("kurtosis_excess"),
        )
        .orderBy("event_type")
    )


_WMEDIAN_ORACLE = f"""
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice,
               CAST(FLOOR(l_quantity + 0.5e0) AS BIGINT) AS qty
        FROM lineitem),
    c AS (
        SELECT l_returnflag, l_extendedprice, qty,
               SUM(qty) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS cum,
               SUM(qty) OVER (PARTITION BY l_returnflag) AS tot
        FROM (SELECT l_returnflag, l_extendedprice, l_orderkey,
                     l_linenumber,
                     CAST(FLOOR(l_quantity + 0.5e0) AS BIGINT) AS qty
              FROM lineitem))
    SELECT l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_weight,
           {sql_roundn("MIN(l_extendedprice)", 2)} AS weighted_median
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


@query("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — weighted median: the price at which half the
    QUANTITY (not half the rows) sits below, per return flag — the
    right central tendency when rows carry different masses (volume-
    weighted pricing, token-weighted doc stats). Neither engine ships a
    weighted percentile, so both sides run the same cumulative-weight
    formulation: order by value, running weight sum, first value whose
    doubled cumulative weight reaches the total (lower weighted
    median — deterministic for ties because tied values ARE the
    answer, whatever the tie order).

    Exactness: weights snap to integer units, the crossing test is
    2·cum ≥ tot in integer space (no total/2 fraction), and the only
    float is the final price projection.

    100 TB: one window shuffle per group key for the running sum, then
    a filter+min — same profile as any frame aggregate. For a
    million-group workload the documented swap is two-pass binning
    (approximate range, then exact within the crossing bin)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("qty"),
    )
    wc = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wt = Window.partitionBy("l_returnflag")
    c = base.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("qty").over(wc).alias("cum"),
        F.sum("qty").over(wt).alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.max("tot").cast("bigint").alias("total_weight"),
            roundn(F.min("l_extendedprice"), 2).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


_GINI_ORACLE = f"""
    WITH cust_rev AS (
        SELECT n.n_regionkey AS regionkey, o.o_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    ranked AS (
        SELECT regionkey, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY regionkey ORDER BY cents, o_custkey
               ) AS i,
               COUNT(*) OVER (PARTITION BY regionkey) AS n,
               SUM(cents) OVER (PARTITION BY regionkey) AS tot
        FROM cust_rev)
    SELECT regionkey,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           {sql_roundn(
               "CAST(SUM((2 * i - n - 1) * cents) AS DOUBLE)"
               " / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(tot) AS DOUBLE))", 6)}
               AS gini
    FROM ranked
    GROUP BY regionkey
    ORDER BY regionkey
    """


@query("agg_gini", oracle=_GINI_ORACLE)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — Gini coefficient of customer-revenue concentration
    per region: G = Σᵢ(2i−n−1)xᵢ / (n·Σx) over ascending-ranked
    per-customer revenue — the one-number inequality measure a
    marketplace/risk pipeline tracks per segment (0 = uniform,
    →1 = one-customer-is-the-book). Degenerate regions (all-equal
    revenue) give exactly 0.

    Exactness: revenue snaps to integer cents, ranks are integers with
    a custkey tie-break, and the WHOLE numerator accumulates in int64
    (max |2i−n−1|·cents ≈ 3·10⁴ × 5·10⁷ ≈ 10¹², × 3·10⁴ customers ≈
    10¹⁶ < 2⁶³) — order-independent; one double division at the end.

    100 TB: per-customer rollup is a keyed aggregate; the rank window
    shuffles once per region partition carrying (cents) — for a
    single-key hot region the documented swap is the binned
    approximation (histogram Gini), same output contract."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("regionkey"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
            ).alias("cents")
        )
    )
    wp = Window.partitionBy("regionkey")
    ranked = cust_rev.select(
        "regionkey",
        "cents",
        F.row_number()
        .over(wp.orderBy("cents", "o_custkey"))
        .alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("cents").over(wp).alias("tot"),
    )
    return (
        ranked.groupBy("regionkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            roundn(
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
                .cast("double")
                / (F.max("n").cast("double") * F.max("tot").cast("double")),
                6,
            ).alias("gini"),
        )
        .orderBy("regionkey")
    )


@query(
    "pareto_concentration",
    oracle=f"""
    WITH cust_rev AS (
        SELECT n.n_regionkey AS regionkey, o.o_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    ranked AS (
        SELECT regionkey, cents,
               SUM(cents) OVER (
                   PARTITION BY regionkey
                   ORDER BY cents DESC, o_custkey ASC
               ) AS cum,
               COUNT(*) OVER (PARTITION BY regionkey) AS n,
               SUM(cents) OVER (PARTITION BY regionkey) AS tot
        FROM cust_rev)
    SELECT regionkey,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS k80,
           {sql_roundn("COUNT(*) * 1.0e0 / MAX(n)", 4)} AS top_share
    FROM ranked
    WHERE 5 * (cum - cents) < 4 * tot
    GROUP BY regionkey
    ORDER BY regionkey
    """,
)
def pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — Pareto/80-20 concentration: per region, the
    smallest customer count whose combined revenue reaches 80% of the
    total, and that count as a share of all customers (the "how few
    customers are the business" answer behind agg_gini's coefficient).
    A customer is in the top set while the revenue ABOVE them (cum
    before their row) is still under the 80% line.

    Exactness: integer cents; the crossing test 5·(cum−x) < 4·tot is
    pure int64 (no 0.8·tot fraction); ranks break ties by custkey.

    100 TB: same profile as agg_gini — one rollup, one window per
    region; the descending running sum is the only stateful pass."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("regionkey"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
            ).alias("cents")
        )
    )
    wp = Window.partitionBy("regionkey")
    ranked = cust_rev.select(
        "regionkey",
        "cents",
        F.sum("cents")
        .over(wp.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .alias("cum"),
        F.count("*").over(wp).alias("n"),
        F.sum("cents").over(wp).alias("tot"),
    )
    return (
        ranked.filter(
            5 * (F.col("cum") - F.col("cents")) < 4 * F.col("tot")
        )
        .groupBy("regionkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.count("*").alias("k80"),
            roundn(F.count("*") / F.max("n"), 4).alias("top_share"),
        )
        .orderBy("regionkey")
    )


@query(
    "hypothesis_ttest",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)) AS s1,
               SUM(CAST(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)
                        AS DECIMAL(38,0))
                   * CAST(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)
                          AS DECIMAL(38,0))) AS s2
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1),
    w AS (
        SELECT
            MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
            MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
            MAX(CASE WHEN event_type = 'click' THEN s1 * 1.0e0 / n END)
                AS m1,
            MAX(CASE WHEN event_type = 'view' THEN s1 * 1.0e0 / n END)
                AS m2,
            MAX(CASE WHEN event_type = 'click'
                     THEN CAST(n * s2 - CAST(s1 AS DECIMAL(38,0))
                               * CAST(s1 AS DECIMAL(38,0)) AS DOUBLE)
                          / (n * (n - 1.0e0)) END) AS v1,
            MAX(CASE WHEN event_type = 'view'
                     THEN CAST(n * s2 - CAST(s1 AS DECIMAL(38,0))
                               * CAST(s1 AS DECIMAL(38,0)) AS DOUBLE)
                          / (n * (n - 1.0e0)) END) AS v2
        FROM g)
    SELECT n1, n2,
           {sql_roundn("(m1 - m2) / 100.0e0", 4)} AS mean_diff,
           {sql_roundn("(m1 - m2) / SQRT(v1 / n1 + v2 / n2)", 4)} AS t_stat,
           {sql_roundn(
               "((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))"
               " / ((v1 / n1) * (v1 / n1) / (n1 - 1.0e0)"
               "    + (v2 / n2) * (v2 / n2) / (n2 - 1.0e0))", 2
           )} AS df_welch
    FROM w
    """,
)
def hypothesis_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-extension — Welch's two-sample t-test (unequal variances):
    does the 'click' value distribution differ in mean from 'view'?
    The A/B-test workhorse beside hypothesis_chisq's categorical
    independence gate. Emits the t statistic and Welch–Satterthwaite
    degrees of freedom; the test is scale-invariant, so running it in
    integer cents changes nothing while making every sum exact.

    Both engines derive (n, Σx, Σx²) with Σx² in DECIMAL(38,0)
    (order-independent — the ts_twap discipline), then evaluate the
    identical mean/variance/t expression trees in double; outputs are
    rounded at projection.

    100 TB: one filtered scan → two-group partial aggregate (map-side
    combined to six numbers per group); everything after is constant
    size. The filter prunes at the parquet scan.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    dec = cents.cast("decimal(38,0)")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )

    def pick(t: str, col) -> F.Column:
        return F.max(F.when(F.col("event_type") == t, col))

    var = (
        F.col("n") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
    ).cast("double") / (F.col("n") * (F.col("n") - F.lit(1.0)))
    mean = F.col("s1") * F.lit(1.0) / F.col("n")
    w = g.agg(
        pick("click", F.col("n")).alias("n1"),
        pick("view", F.col("n")).alias("n2"),
        pick("click", mean).alias("m1"),
        pick("view", mean).alias("m2"),
        pick("click", var).alias("v1"),
        pick("view", var).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        "n1",
        "n2",
        roundn((F.col("m1") - F.col("m2")) / F.lit(100.0), 4).alias(
            "mean_diff"
        ),
        roundn((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4).alias("t_stat"),
        roundn(
            (se2 * se2)
            / (
                (F.col("v1") / F.col("n1"))
                * (F.col("v1") / F.col("n1"))
                / (F.col("n1") - F.lit(1.0))
                + (F.col("v2") / F.col("n2"))
                * (F.col("v2") / F.col("n2"))
                / (F.col("n2") - F.lit(1.0))
            ),
            2,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# ratio-of-sums vs mean-of-ratios (r5o wave)
# ---------------------------------------------------------------------------


@query(
    "agg_ratio_of_sums",
    oracle="""
    WITH li AS (
        SELECT s.s_nationkey,
               CAST(FLOOR(l.l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    per AS (
        SELECT s_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(qty) AS BIGINT) AS sum_qty,
               CAST(SUM((cents * 10000) // qty) AS BIGINT) AS sum_unit_u
        FROM li GROUP BY 1)
    SELECT n.n_name, p.n_lines,
           CAST(FLOOR(CAST(p.sum_cents AS DOUBLE)
                      / CAST(p.sum_qty AS DOUBLE)
                      * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
               AS ratio_of_sums,
           CAST(p.sum_unit_u // p.n_lines AS DOUBLE) / 10000.0e0
               AS mean_of_ratios,
           CAST(CAST(FLOOR(CAST(p.sum_cents AS DOUBLE)
                           / CAST(p.sum_qty AS DOUBLE)
                           * 10000.0e0 + 0.5e0) AS BIGINT)
                <> p.sum_unit_u // p.n_lines AS INT) AS metrics_diverge
    FROM per p JOIN nation n ON n.n_nationkey = p.s_nationkey
    ORDER BY n.n_name
    """,
)
def agg_ratio_of_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-correctness tier — the RATIO-METRIC definition audit:
    "unit price per nation" computed BOTH legitimate ways side by side
    — ratio of sums (Σ revenue / Σ quantity — the volume-weighted
    business number) and mean of per-line ratios (the per-transaction
    average) — with a divergence flag.  The two differ whenever price
    correlates with quantity (they always do), and silently swapping
    one for the other is among the most common dashboard-regression
    bugs; this key makes the definition choice an explicit, tested
    artifact.

    Exactness: per-line unit ratios are integer-quantized ((cents·1e4)
    DIV qty) BEFORE the cross-line sum, and the mean itself is the
    integer DIV of that sum (exact end to end); ratio-of-sums divides two exact
    int64 totals once; the divergence flag compares the two QUANTIZED
    readouts.

    100 TB: one fact pass with a broadcast dim, map-side combined to
    nation grain — the cheapest possible shape for both metrics."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    base = li.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        li.l_suppkey == F.col("s_suppkey"),
    ).select(
        "s_nationkey",
        cents.alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per = base.groupBy("s_nationkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("qty").cast("long").alias("sum_qty"),
        F.sum(F.expr("(cents * 10000) DIV qty")).cast("long").alias(
            "sum_unit_u"
        ),
    )
    ros_u = F.floor(
        F.col("sum_cents").cast("double")
        / F.col("sum_qty").cast("double")
        * F.lit(10000.0)
        + F.lit(0.5)
    ).cast("long")
    mor_u = F.expr("sum_unit_u DIV n_lines")
    return (
        per.join(
            F.broadcast(nation), per.s_nationkey == nation.n_nationkey
        )
        .select(
            "n_name",
            "n_lines",
            (ros_u.cast("double") / F.lit(10000.0)).alias("ratio_of_sums"),
            (mor_u.cast("double") / F.lit(10000.0)).alias("mean_of_ratios"),
            (ros_u != mor_u).cast("int").alias("metrics_diverge"),
        )
        .orderBy("n_name")
    )


#: coarse value-bin width for the two-pass weighted median (prices span
#: ~[900, 105000) -> ~105 bins; any width works, exactness is unchanged)
_WMB_BIN = 1000.0


@query("agg_weighted_median_binned", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_weighted_median's DOCUMENTED SCALE SWAP, delivered: TWO-PASS
    BINNING. Pass 1 bins prices coarsely ({b:.0f}-wide) and aggregates
    per-(group, bin) weight — a plain map-side-combinable aggregate, no
    window over the raw rows. The bin-grain cumulative (a window over
    ~105 bins per group, never rows) locates the CROSSING BIN and the
    exact weight carried in before it; pass 2 runs the row-grain
    cumulative window ONLY over the crossing bin's rows, seeded with
    that prior weight. The answer is EXACT — identical to the
    single-window form row-for-row, proven by sharing
    agg_weighted_median's oracle VERBATIM (the graph_articulation_tarjan
    cross-verification discipline: one hash match validates two
    different algorithms).

    Why it matters at 100 TB: the direct form's running-sum window
    sorts EVERY row of every group; here the row-grain window touches
    only ~1/105th of the data (one bin per group), and everything else
    is aggregate-shaped. For a million-group workload the bin pass is
    the only full-data touch.

    Exactness: integer weights; bin ids are exact floors of the same
    doubles both passes see; within-bin ordering (price, orderkey,
    linenumber) is the global ordering restricted to the bin because
    the bin is a monotone function of the leading sort key."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    base = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias(
            "qty"
        ),
        F.floor(F.col("l_extendedprice") / F.lit(_WMB_BIN)).cast(
            "bigint"
        ).alias("bin"),
    ).localCheckpoint(eager=False)  # pass-1 aggregate + pass-2 scan
    # pass 1: per-bin weights (map-side combine), bin-grain cumulative
    bins = base.groupBy("l_returnflag", "bin").agg(
        F.sum("qty").alias("bw")
    )
    wb = Window.partitionBy("l_returnflag").orderBy("bin")
    wt = Window.partitionBy("l_returnflag")
    bc = bins.select(
        "l_returnflag",
        "bin",
        (F.sum("bw").over(wb) - F.col("bw")).alias("prior"),
        F.sum("bw").over(wb).alias("cum_bin"),
        F.sum("bw").over(wt).alias("tot"),
    )
    crossing = (
        bc.filter(2 * F.col("cum_bin") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min_by(F.col("bin"), F.col("bin")).alias("bin"),
            F.min_by(F.col("prior"), F.col("bin")).alias("prior"),
            F.max("tot").alias("tot"),
        )
    )
    # pass 2: the row window runs only inside the crossing bin
    wc = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    inbin = (
        base.join(F.broadcast(crossing), ["l_returnflag", "bin"])
        .select(
            "l_returnflag",
            "l_extendedprice",
            "tot",
            (F.col("prior") + F.sum("qty").over(wc)).alias("cum"),
        )
    )
    return (
        inbin.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.max("tot").cast("bigint").alias("total_weight"),
            roundn(F.min("l_extendedprice"), 2).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


agg_weighted_median_binned.__doc__ = agg_weighted_median_binned.__doc__.format(
    b=_WMB_BIN
)


#: revenue-bin width (cents) for the partition-parallel exact Gini
_GINI_BINW = 1_000_000


@query("agg_gini_binned", oracle=_GINI_ORACLE)
def agg_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_gini's DOCUMENTED SCALE SWAP, delivered — and EXACT, not the
    approximate histogram form the docstring once promised: BIN-OFFSET
    RANKING. Pass 1 bins the cents coarsely and aggregates per-(region,
    bin) count/sum; the bin-grain cumulative (window over bins, never
    rows) yields each bin's PRIOR COUNT. Pass 2 ranks rows only WITHIN
    their (region, bin) partition and adds the broadcast prior — global
    rank i = prior(bin) + rank_within — so the Gini numerator
    Σ(2i−n−1)·xᵢ accumulates map-side with NO region-wide window at
    all. A single-key hot region (the documented failure mode: one
    region holding half the customers serializes the rank window) now
    spreads across |bins| independent partitions. Output is identical
    to agg_gini row-for-row — proven by sharing its oracle VERBATIM
    (the graph_articulation_tarjan cross-verification discipline).

    Exactness: unchanged from agg_gini — integer cents, integer ranks
    (the within-bin (cents, custkey) order IS the global order
    restricted to the bin because bin is a monotone function of
    cents), int64 numerator, one double division."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("regionkey"), "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
            ).alias("cents")
        )
        .withColumn("bin", (F.col("cents") / _GINI_BINW).cast("bigint"))
        .localCheckpoint(eager=False)  # pass-1 rollup + pass-2 rank
    )
    bins = cust_rev.groupBy("regionkey", "bin").agg(
        F.count("*").alias("bc"), F.sum("cents").alias("bs")
    )
    wb = Window.partitionBy("regionkey").orderBy("bin")
    wr = Window.partitionBy("regionkey")
    pri = bins.select(
        "regionkey",
        "bin",
        (F.sum("bc").over(wb) - F.col("bc")).alias("prior"),
        F.sum("bc").over(wr).alias("n"),
        F.sum("bs").over(wr).alias("tot"),
    )
    win = Window.partitionBy("regionkey", "bin").orderBy(
        "cents", "o_custkey"
    )
    ranked = cust_rev.join(F.broadcast(pri), ["regionkey", "bin"]).select(
        "regionkey",
        "cents",
        "n",
        "tot",
        (F.col("prior") + F.row_number().over(win)).alias("i"),
    )
    return (
        ranked.groupBy("regionkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            roundn(
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
                .cast("double")
                / (F.max("n").cast("double") * F.max("tot").cast("double")),
                6,
            ).alias("gini"),
        )
        .orderBy("regionkey")
    )
