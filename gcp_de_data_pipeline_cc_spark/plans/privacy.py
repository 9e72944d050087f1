"""Privacy tier: k-anonymity audit, l-diversity audit, and
hierarchy-based generalization.

A training-data pipeline that exports curated tables (the reference's
curation tier, dags/pipeline_orchestration_dag.py:101-143, feeding
"business-ready tables" per readme:10) owes its consumers a
re-identification audit before release — the pipeline-side counterpart
of the PII scan/mask keys (`pii_scan`, `fn_mask`):

- **privacy_k_anonymity** — Sweeney's k-anonymity over the
  quasi-identifier (nation, market segment): a release is k-anonymous
  iff every QI equivalence class holds ≥ k individuals. Output is the
  per-class census with the k=5 verdict;
- **privacy_l_diversity** — Machanavalli et al.'s refinement: a
  k-anonymous class still leaks if the sensitive attribute (here the
  joined order priority) is near-constant within it. Output counts
  distinct sensitive values per class with the l=3 verdict;
- **privacy_generalize** — the algorithmic step the audits motivate:
  ascend the QI generalization hierarchy (nation → region → '*') until
  each class reaches k, i.e. the bottom rungs of a Samarati/Incognito
  lattice walk, evaluated level-by-level with no per-row iteration.

100 TB scale: each audit is one hash aggregate over the dimension
(map-side partials; QI-class cardinality is bounded by the QI domain,
here ≤ 125 classes, so the shuffle carries class states, not rows).
`privacy_l_diversity` broadcasts the customer dim onto the orders fact
— the fact never shuffles. `privacy_generalize` re-aggregates CLASS
STATES (already ≤ |QI domain| rows) per lattice level, so ascending the
hierarchy costs nothing at data scale; rows are only touched once.

Float discipline: counts are exact integers; no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48, u48
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: k-anonymity threshold — every released QI class must hold ≥ K people
_K = 5

#: l-diversity threshold — ≥ L distinct sensitive values per class
_L = 3


@query(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS class_n,
           COUNT(*) >= {_K} AS is_k_anon
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-class census with the k=5 verdict (k-anonymity audit).

    One broadcast dim join (nation is 25 rows) + one hash aggregate;
    the class census is bounded by the QI domain, never by row count.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("class_n"))
        .withColumn("is_k_anon", F.col("class_n") >= _K)
        .orderBy("nation", "segment")
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct,
           COUNT(DISTINCT o.o_orderpriority) >= {_L} AS is_l_diverse
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l diversity of the sensitive attribute (order priority)
    within each QI class.

    The fact (orders) takes two BROADCAST dim joins and one aggregate —
    it never shuffles rows, and the distinct-count state per class is
    bounded by the sensitive domain (5 priorities).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("l_distinct"),
        )
        .withColumn("is_l_diverse", F.col("l_distinct") >= _L)
        .orderBy("nation", "segment")
    )


@query(
    "privacy_generalize",
    oracle=f"""
    WITH base AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2, 3),
    lvl1 AS (
        SELECT region, segment, CAST(SUM(n) AS BIGINT) AS region_n
        FROM base GROUP BY 1, 2)
    SELECT b.nation, b.segment,
           CASE WHEN b.n >= {_K} THEN 'nation'
                WHEN l.region_n >= {_K} THEN 'region'
                ELSE 'suppressed' END AS level,
           CASE WHEN b.n >= {_K} THEN b.nation
                WHEN l.region_n >= {_K} THEN b.region
                ELSE '*' END AS released_cell,
           CASE WHEN b.n >= {_K} THEN b.n
                WHEN l.region_n >= {_K} THEN l.region_n
                ELSE CAST(0 AS BIGINT) END AS cell_n
    FROM base b JOIN lvl1 l
      ON b.region = l.region AND b.segment = l.segment
    ORDER BY b.nation, b.segment
    """,
)
def privacy_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom rungs of the generalization lattice: each (nation,
    segment) class that fails k=5 is generalized along the geography
    hierarchy to (region, segment); classes still below k are
    suppressed ('*').

    The level-1 walk re-aggregates the LEVEL-0 CLASS STATES (≤ |QI
    domain| rows), not the data — exactly how Incognito prunes the
    lattice — so adding hierarchy levels costs nothing at 100 TB. The
    level-0/level-1 join is class-table × class-table (both tiny,
    broadcast).
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("n"))
    )
    # level-0 class states feed BOTH the level-1 rollup and the final
    # join — materialize the tiny (≤ |QI domain|) table once instead of
    # re-running the dim joins (plan-census diamond rule)
    base = base.localCheckpoint(eager=False)
    lvl1 = base.groupBy("region", "segment").agg(
        F.sum("n").alias("region_n")
    )
    k = F.lit(_K)
    joined = base.join(F.broadcast(lvl1), ["region", "segment"])
    return joined.select(
        "nation",
        "segment",
        F.when(F.col("n") >= k, F.lit("nation"))
        .when(F.col("region_n") >= k, F.lit("region"))
        .otherwise(F.lit("suppressed"))
        .alias("level"),
        F.when(F.col("n") >= k, F.col("nation"))
        .when(F.col("region_n") >= k, F.col("region"))
        .otherwise(F.lit("*"))
        .alias("released_cell"),
        F.when(F.col("n") >= k, F.col("n"))
        .when(F.col("region_n") >= k, F.col("region_n"))
        .otherwise(F.lit(0).cast("long"))
        .alias("cell_n"),
    ).orderBy("nation", "segment")


# ---------------------------------------------------------------------------
# t-closeness (r4i wave)
# ---------------------------------------------------------------------------

#: EMD threshold t = 1/5 — kept as an exact rational for integer verdicts
_T_NUM, _T_DEN = 1, 5

_TCLOSE_ORACLE = f"""
WITH f AS (
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           o.o_orderpriority AS p
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey),
dom AS (SELECT DISTINCT p FROM f),
cls AS (SELECT DISTINCT nation, segment FROM f),
grid AS (
    SELECT cls.nation, cls.segment, dom.p,
           CAST(COALESCE(k.k, 0) AS BIGINT) AS k
    FROM cls CROSS JOIN dom
    LEFT JOIN (SELECT nation, segment, p, COUNT(*) AS k
               FROM f GROUP BY 1, 2, 3) k
      ON k.nation = cls.nation AND k.segment = cls.segment
     AND k.p = dom.p),
gtot AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS kg FROM f GROUP BY p),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
              CAST(COUNT(DISTINCT p) AS BIGINT) AS m FROM f),
cum AS (
    SELECT g.nation, g.segment, g.p,
           SUM(g.k) OVER (PARTITION BY g.nation, g.segment ORDER BY g.p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
           SUM(gt.kg) OVER (PARTITION BY g.nation, g.segment ORDER BY g.p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg
    FROM grid g JOIN gtot gt ON gt.p = g.p),
per_cls AS (
    SELECT nation, segment,
           CAST(SUM(CASE WHEN rn < m THEN d ELSE 0 END) AS BIGINT) AS emd_num,
           MAX(nc) AS n_class
    FROM (
        SELECT c.nation, c.segment,
               ROW_NUMBER() OVER (PARTITION BY c.nation, c.segment
                                  ORDER BY c.p) AS rn,
               nn.m,
               ABS(c.ck * nn.n_total
                   - c.cg * (SELECT SUM(k) FROM grid g2
                             WHERE g2.nation = c.nation
                               AND g2.segment = c.segment)) AS d,
               (SELECT SUM(k) FROM grid g2
                WHERE g2.nation = c.nation
                  AND g2.segment = c.segment) AS nc
        FROM cum c, nn)
    GROUP BY nation, segment)
SELECT p.nation, p.segment, CAST(p.n_class AS BIGINT) AS n_orders,
       FLOOR(p.emd_num * 1.0e0
             / (p.n_class * 1.0e0 * nn.n_total * (nn.m - 1))
             * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS emd,
       {_T_DEN} * p.emd_num
           <= {_T_NUM} * p.n_class * nn.n_total * (nn.m - 1)
           AS is_t_close
FROM per_cls p, nn
ORDER BY p.nation, p.segment
"""


@query("privacy_t_closeness", oracle=_TCLOSE_ORACLE)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit — the third rung of the privacy triad
    (k-anonymity: classes big enough; l-diversity: enough distinct
    sensitive values; t-closeness: the class's sensitive DISTRIBUTION
    must stay within EMD t of the global one — l-diversity passes a
    class that is 99% one priority, t-closeness does not). The
    sensitive attribute (order priority) is ordinal, so EMD is the
    normalized sum of cumulative gaps: Σᵢ|F_c(i) − F_g(i)| / (m−1).

    Exactness: every cumulative gap is carried as the exact integer
    cross-product |ck·N − cg·n_c| (the hypothesis_ks2 discipline); the
    t = {tn}/{td} verdict is a cross-multiplied INTEGER comparison —
    no float ever decides it; the reported emd is the one
    identical-tree division, 6-dp rounded. Missing (class, priority)
    cells are zero-filled via the domain grid so cumulative distances
    are computed over the full ordinal support.

    100 TB: the fact takes two broadcast dim joins; the grid, the
    cumulative windows, and the per-class sums are all bounded by
    |QI classes| × |sensitive domain| — census-sized, never
    fact-sized."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    f = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("p"),
        )
    )
    f = f.localCheckpoint(eager=False)  # grid/global/total consumers
    k = f.groupBy("nation", "segment", "p").agg(F.count("*").alias("k"))
    dom = f.select("p").distinct()
    cls = f.select("nation", "segment").distinct()
    grid = (
        cls.crossJoin(F.broadcast(dom))
        .join(k, ["nation", "segment", "p"], "left")
        .select(
            "nation", "segment", "p", F.coalesce("k", F.lit(0)).alias("k")
        )
    )
    gtot = f.groupBy("p").agg(F.count("*").alias("kg"))
    nn = f.agg(
        F.count("*").alias("n_total"), F.countDistinct("p").alias("m")
    )
    wc = (
        Window.partitionBy("nation", "segment")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(F.broadcast(gtot), "p")
        .select(
            "nation",
            "segment",
            "p",
            "k",
            F.sum("k").over(wc).alias("ck"),
            F.sum("kg").over(wc).alias("cg"),
        )
    )
    nc = grid.groupBy("nation", "segment").agg(F.sum("k").alias("n_class"))
    per = (
        cum.join(F.broadcast(nc), ["nation", "segment"])
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nation", "segment").orderBy("p")
            ),
        )
        .groupBy("nation", "segment", "n_class", "n_total", "m")
        .agg(
            F.sum(
                F.when(
                    F.col("rn") < F.col("m"),
                    F.abs(
                        F.col("ck") * F.col("n_total")
                        - F.col("cg") * F.col("n_class")
                    ),
                ).otherwise(0)
            ).alias("emd_num")
        )
    )
    one = F.lit(1.0)
    return per.select(
        "nation",
        "segment",
        F.col("n_class").cast("long").alias("n_orders"),
        roundn(
            F.col("emd_num")
            * one
            / (
                F.col("n_class")
                * one
                * F.col("n_total")
                * (F.col("m") - 1)
            ),
            6,
        ).alias("emd"),
        (
            F.lit(_T_DEN) * F.col("emd_num")
            <= F.lit(_T_NUM)
            * F.col("n_class")
            * F.col("n_total")
            * (F.col("m") - 1)
        ).alias("is_t_close"),
    ).orderBy("nation", "segment")


privacy_t_closeness.__doc__ = privacy_t_closeness.__doc__.format(
    tn=_T_NUM, td=_T_DEN
)


# ---------------------------------------------------------------------------
# differential privacy: seeded Laplace counts (r4 wave)
# ---------------------------------------------------------------------------

#: privacy budget per released count (sensitivity 1 → Laplace scale 1/ε)
_DP_EPS_NUM, _DP_EPS_DEN = 1, 1  # ε = 1

#: uniform draw from the md5 of the group key: first 12 hex nibbles /
#: 16^12 — deterministic (auditable/replayable release), identical
#: string→int path on both engines.  A production release swaps in a
#: CSPRNG; the QUERY SHAPE (per-group noise, inverse-CDF transform,
#: budget column) is what this key pins.


def _dp_oracle() -> str:
    u = sql_u48("dp", "o_orderpriority")
    b = f"({_DP_EPS_DEN}.0 / {_DP_EPS_NUM}.0)"
    noise = (
        f"-{b} * CASE WHEN {u} >= 0.5 THEN 1.0 ELSE -1.0 END"
        f" * LN(1.0 - 2.0 * ABS({u} - 0.5))"
    )
    return f"""
    WITH g AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM orders GROUP BY 1)
    SELECT o_orderpriority, true_count,
           FLOOR(({noise}) * 10000.0 + 0.5) / 10000.0 AS noise,
           FLOOR((true_count + ({noise})) * 10000.0 + 0.5) / 10000.0
               AS noisy_count,
           {_DP_EPS_NUM}.0 / {_DP_EPS_DEN}.0 AS epsilon
    FROM g
    ORDER BY o_orderpriority
    """


@query("privacy_dp_count", oracle=_dp_oracle())
def privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth rung of the privacy tier — ε-DIFFERENTIALLY-PRIVATE
    released counts (k-anonymity/l-diversity/t-closeness audit the
    DATA; DP protects the QUERY OUTPUT): per-priority order counts
    with Laplace(1/ε) noise at ε=1, sensitivity 1, via the inverse-CDF
    transform noise = −b·sign(u−½)·ln(1−2|u−½|).  The uniform draw is
    a SEEDED md5 of the group key, so the release is deterministic —
    auditable and exactly replayable, the property a DP accounting
    review needs (swap a CSPRNG for production draws; the shape — one
    noise term per released statistic, the ε budget column — is what
    carries).

    Exactness: true counts exact int64; u is an exact 48-bit dyadic
    rational identically derived on both engines; the ln/abs chain is
    an identical expression tree rounded at 4 dp (the text_entropy
    libm discipline).

    100 TB: one map-side-combined aggregate; noise is per-GROUP scalar
    math (class-cardinality), never row-sized."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("true_count")
    )
    u = u48("dp", F.col("o_orderpriority"))
    b = F.lit(float(_DP_EPS_DEN) / float(_DP_EPS_NUM))
    noise = (
        -b
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return g.select(
        "o_orderpriority",
        "true_count",
        roundn(noise, 4).alias("noise"),
        roundn(F.col("true_count") + noise, 4).alias("noisy_count"),
        F.lit(float(_DP_EPS_NUM) / float(_DP_EPS_DEN)).alias("epsilon"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# small-cell suppression (r5b wave)
# ---------------------------------------------------------------------------

#: publication threshold: cells with fewer than _SUP_K units are withheld
_SUP_K = 5


@query(
    "privacy_cell_suppression",
    oracle=f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS bal_cents
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    prim AS (
        SELECT *, (n < {_SUP_K}) AS p_sup FROM cells),
    rowstat AS (
        SELECT segment,
               CAST(SUM(CASE WHEN p_sup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_prim
        FROM prim GROUP BY segment),
    compl AS (
        SELECT p.segment, p.nation,
               (r.n_prim = 1 AND NOT p.p_sup AND
                ROW_NUMBER() OVER (
                    PARTITION BY p.segment, p.p_sup
                    ORDER BY p.n, p.nation) = 1 AND NOT p.p_sup)
                   AS c_sup_raw
        FROM prim p JOIN rowstat r ON r.segment = p.segment),
    final AS (
        SELECT p.segment, p.nation, p.n, p.bal_cents, p.p_sup,
               COALESCE(c.c_sup_raw AND NOT p.p_sup, FALSE) AS c_sup
        FROM prim p
        JOIN compl c ON c.segment = p.segment AND c.nation = p.nation),
    margins AS (
        SELECT segment, CAST(SUM(n) AS BIGINT) AS seg_total FROM cells
        GROUP BY segment)
    SELECT f.segment, f.nation,
           CASE WHEN f.p_sup OR f.c_sup THEN NULL ELSE f.n END AS n,
           CASE WHEN f.p_sup OR f.c_sup THEN NULL
                ELSE f.bal_cents END AS bal_cents,
           CASE WHEN f.p_sup THEN 'primary'
                WHEN f.c_sup THEN 'complementary' END AS suppressed,
           m.seg_total
    FROM final f JOIN margins m ON m.segment = f.segment
    ORDER BY f.segment, f.nation
    """,
)
def privacy_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy tier, fifth rung (k-anonymity / l-diversity /
    t-closeness / ε-DP audit the DATA; this audits the RELEASE) —
    statistical-disclosure small-cell suppression: any (segment,
    nation) cell counting fewer than {k} customers is withheld
    (primary), and a segment with EXACTLY ONE primary suppression
    additionally withholds its smallest surviving cell (complementary)
    — because a published row margin plus all-but-one cells recovers
    the withheld value by subtraction, the classic census-table rule.
    Margins stay published: the oracle proves the release is
    consistent.

    Exactness: every decision is an integer comparison; the
    complementary pick is a (count, nation) lexicographic argmin —
    no floats anywhere.

    100 TB: cells are QI-cardinality (segments × nations); the fact
    scan collapses map-side; suppression logic runs on the bounded
    cell table with one row-group window."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    cells = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).cast("long").alias("bal_cents"),
        )
    )
    cells = cells.localCheckpoint(eager=False)  # margins + logic consumers
    prim = cells.withColumn("p_sup", F.col("n") < _SUP_K)
    rowstat = prim.groupBy("segment").agg(
        F.sum(F.when(F.col("p_sup"), 1).otherwise(0))
        .cast("long")
        .alias("n_prim")
    )
    rn = F.row_number().over(
        Window.partitionBy("segment", "p_sup").orderBy("n", "nation")
    )
    compl = (
        prim.join(F.broadcast(rowstat), "segment")
        .withColumn("rn", rn)
        .withColumn(
            "c_sup",
            (F.col("n_prim") == 1)
            & ~F.col("p_sup")
            & (F.col("rn") == 1),
        )
    )
    margins = cells.groupBy("segment").agg(
        F.sum("n").cast("long").alias("seg_total")
    )
    sup = F.col("p_sup") | F.col("c_sup")
    return (
        compl.join(F.broadcast(margins), "segment")
        .select(
            "segment",
            "nation",
            F.when(sup, F.lit(None)).otherwise(F.col("n")).alias("n"),
            F.when(sup, F.lit(None))
            .otherwise(F.col("bal_cents"))
            .alias("bal_cents"),
            F.when(F.col("p_sup"), "primary")
            .when(F.col("c_sup"), "complementary")
            .alias("suppressed"),
            "seg_total",
        )
        .orderBy("segment", "nation")
    )


privacy_cell_suppression.__doc__ = privacy_cell_suppression.__doc__.format(
    k=_SUP_K
)


# ---------------------------------------------------------------------------
# blind-key (hashed) join (r5o wave)
# ---------------------------------------------------------------------------


@query(
    "join_blind_keys",
    oracle="""
    WITH ch AS (
        SELECT md5('k:' || CAST(c_custkey AS VARCHAR)) AS hk,
               c_mktsegment
        FROM customer),
    oh AS (
        SELECT md5('k:' || CAST(o_custkey AS VARCHAR)) AS hk,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents
        FROM orders),
    joined AS (
        SELECT ch.c_mktsegment, oh.cents
        FROM ch JOIN oh ON oh.hk = ch.hk),
    audit AS (
        SELECT CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_hashes,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
        FROM customer
        CROSS JOIN LATERAL (
            SELECT md5('k:' || CAST(c_custkey AS VARCHAR)) AS hk) t)
    SELECT j.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(j.cents) AS BIGINT) AS revenue_cents,
           a.n_keys - a.n_hashes AS n_hash_collisions
    FROM joined j CROSS JOIN audit a
    GROUP BY j.c_mktsegment, a.n_keys, a.n_hashes
    ORDER BY j.c_mktsegment
    """,
)
def join_blind_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy tier — the BLIND-KEY join: two parties link records on a
    salted HASH of the identifier so the raw key never crosses the
    trust boundary (the data-clean-room primitive; a production
    deployment uses keyed HMAC — the salt here stands in for the
    shared secret).  The revenue-by-segment rollup computes entirely
    on hashed keys, and the collision audit (distinct keys − distinct
    hashes) certifies the linkage lost nothing — the check that makes
    blind joins auditable.

    Exactness: md5 hex is engine-identical; measures are integer
    cents; the collision audit is exact distinct counts.

    100 TB: the hash is projection-side (whole-stage codegen) so the
    join is a plain equi-join on a 32-byte key — same shuffle shape as
    the raw join, 4× the key bytes (xxhash64-of-md5 collapses it back
    to 8 bytes at scale, collision budget re-audited the same way)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    hk = lambda c: F.md5(F.concat(F.lit("k:"), c.cast("string")))
    ch = customer.select(
        hk(F.col("c_custkey")).alias("hk"), "c_mktsegment"
    )
    oh = orders.select(
        hk(F.col("o_custkey")).alias("hk"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    audit = customer.agg(
        F.countDistinct(hk(F.col("c_custkey"))).cast("long").alias(
            "n_hashes"
        ),
        F.countDistinct("c_custkey").cast("long").alias("n_keys"),
    )
    return (
        ch.join(oh, "hk")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(audit))
        .select(
            "c_mktsegment",
            "n_orders",
            "revenue_cents",
            (F.col("n_keys") - F.col("n_hashes")).alias("n_hash_collisions"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# privacy_pseudonym_rotation — epoch-rotated pseudonyms with audits
# --------------------------------------------------------------------------

#: pseudonym width in hex chars (64 bits)
_ROT_W = 16


@query(
    "privacy_pseudonym_rotation",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT c_custkey AS k FROM customer),
    p AS (
        SELECT k,
               SUBSTR(md5('epoch1:' || CAST(k AS VARCHAR)), 1, {_ROT_W})
                   AS p1,
               SUBSTR(md5('epoch2:' || CAST(k AS VARCHAR)), 1, {_ROT_W})
                   AS p2
        FROM keys),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(DISTINCT p1) AS BIGINT) AS n_p1,
               CAST(COUNT(DISTINCT p2) AS BIGINT) AS n_p2
        FROM p),
    leak AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_value_links
        FROM p a JOIN p b ON a.p1 = b.p2),
    self_link AS (
        SELECT CAST(SUM(CASE WHEN p1 = p2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_stable
        FROM p)
    SELECT s.n_keys,
           s.n_keys - s.n_p1 AS epoch1_collisions,
           s.n_keys - s.n_p2 AS epoch2_collisions,
           l.n_value_links,
           sl.n_stable,
           l.n_value_links = 0 AND sl.n_stable = 0 AS rotation_ok
    FROM stats s, leak l, self_link sl
    """,
)
def privacy_pseudonym_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-ops tier — PSEUDONYM ROTATION AUDIT: per retention
    epoch, identifiers are replaced by salted one-way pseudonyms
    (`join_blind_keys`' clean-room primitive); rotating the salt each
    epoch is what makes long-range tracking impossible — and this key
    AUDITS that property: zero value-level links between epoch-1 and
    epoch-2 pseudonym sets (the cross join on pseudonym VALUE must be
    empty), zero stable pseudonyms, and per-epoch collision counts
    certifying lossless linkage WITHIN each epoch (the GDPR
    pseudonymization recital's two requirements, made queries).

    Exactness: pure counts over hash strings.

    100 TB: the value-link probe is an equi-join on the 64-bit
    pseudonym (hash-shuffled both sides); everything else map-side.
    The law test plants a NON-rotated salt and watches
    ``rotation_ok`` catch the full-linkage failure.
    """
    cust = load_table(spark, sf_dir, "customer")
    keys = cust.select(F.col("c_custkey").alias("k")).distinct()

    def _pseud(salt: str) -> F.Column:
        return F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col("k").cast("string"))),
            1,
            _ROT_W,
        )

    p = keys.select(
        "k", _pseud("epoch1").alias("p1"), _pseud("epoch2").alias("p2")
    )
    p = p.localCheckpoint(eager=False)  # stats + link + stability uses
    stats = p.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.countDistinct("p1").cast("long").alias("n_p1"),
        F.countDistinct("p2").cast("long").alias("n_p2"),
    )
    leak = (
        p.select("p1")
        .join(p.select("p2"), F.col("p1") == F.col("p2"))
        .agg(F.count("*").cast("long").alias("n_value_links"))
    )
    self_link = p.agg(
        F.sum(F.when(F.col("p1") == F.col("p2"), 1).otherwise(0))
        .cast("long")
        .alias("n_stable")
    )
    return (
        stats.crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(self_link))
        .select(
            "n_keys",
            (F.col("n_keys") - F.col("n_p1"))
            .cast("long")
            .alias("epoch1_collisions"),
            (F.col("n_keys") - F.col("n_p2"))
            .cast("long")
            .alias("epoch2_collisions"),
            "n_value_links",
            "n_stable",
            (
                (F.col("n_value_links") == 0) & (F.col("n_stable") == 0)
            ).alias("rotation_ok"),
        )
    )


# ---------------------------------------------------------------------------
# privacy_randomized_response — local DP collection + debiasing
# (r5g wave)
# ---------------------------------------------------------------------------

#: ln(3) to 6 dp for the p=1/4 flip — a SHARED LITERAL, never computed
#: (ln is libm-dependent; the _BENFORD_P discipline)
_RR_EPSILON = 1.098612


@query(
    "privacy_randomized_response",
    oracle=f"""
    WITH t AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS truth,
               CASE WHEN SUBSTR(md5('rr:' || CAST(c_custkey AS VARCHAR)),
                                1, 2) < '40'
                    THEN 1 ELSE 0 END AS flip
        FROM customer),
    rep AS (
        SELECT c_custkey, truth,
               CASE WHEN flip = 1 THEN 1 - truth ELSE truth END AS reported
        FROM t),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(truth) AS BIGINT) AS true_yes,
               CAST(SUM(reported) AS BIGINT) AS observed_yes
        FROM rep)
    SELECT n, true_yes, observed_yes,
           CAST(GREATEST(4 * observed_yes - n, 0) // 2 AS BIGINT)
               AS debiased_yes,
           CAST(ABS(GREATEST(4 * observed_yes - n, 0) // 2 - true_yes)
               AS BIGINT) AS abs_error,
           CAST(250000 AS BIGINT) AS flip_ppm,
           {_RR_EPSILON}e0 AS epsilon
    FROM agg
    """,
)
def privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Privacy tier — RANDOMIZED RESPONSE (Warner 1965), the local-DP
    mechanism under every private telemetry pipeline: each customer's
    sensitive bit (balance > $5000) flips with probability p=1/4
    before collection (a deterministic md5 coin — reproducible across
    engines, the role client-side randomness plays in production), and
    the collector DEBIASES the observed count with the unbiased
    estimator T̂ = (observed − p·n)/(1 − 2p) — for p=1/4 the exact
    integer (4·observed − n) DIV 2.  Each individual's report is
    ln((1−p)/p) = ln 3 ≈ {_RR_EPSILON}-DP regardless of the collector,
    the entire point: the true bit is never transmitted.

    Exactness: truth, coins, reports, counts and the debiased estimate
    are all exact integers.  The numerator is CLAMPED non-negative
    (GREATEST(4·observed − n, 0) on both sides — a count estimate
    below zero is noise, and clamping also removes the only
    engine-divergence risk: Spark's DIV truncates toward zero while
    DuckDB's // floors, which differ on negative odd numerators);
    epsilon is a shared 6-dp literal, never a runtime ln().

    The abs_error column is the audit: tests bound it by the binomial
    noise of the mechanism (~4σ), which is the privacy/utility trade
    a real deployment monitors.

    100 TB: one map-side aggregate over the scan — the mechanism is
    embarrassingly parallel by construction (that is what LOCAL
    differential privacy means)."""
    c = load_table(spark, sf_dir, "customer")
    truth = F.when(F.col("c_acctbal") > 5000.0, 1).otherwise(0)
    flip = (
        F.substring(
            F.md5(F.concat(F.lit("rr:"), F.col("c_custkey").cast("string"))),
            1,
            2,
        )
        < "40"
    )
    rep = c.select(
        truth.alias("truth"),
        F.when(flip, 1 - truth).otherwise(truth).alias("reported"),
    )
    agg = rep.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("truth").cast("long").alias("true_yes"),
        F.sum("reported").cast("long").alias("observed_yes"),
    )
    deb = F.expr("GREATEST(4 * observed_yes - n, 0L) DIV 2")
    return agg.select(
        "n",
        "true_yes",
        "observed_yes",
        deb.cast("long").alias("debiased_yes"),
        F.abs(deb - F.col("true_yes")).cast("long").alias("abs_error"),
        F.lit(250000).cast("long").alias("flip_ppm"),
        F.lit(_RR_EPSILON).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# privacy_dp_exponential — the exponential mechanism (DP median release)
# ---------------------------------------------------------------------------

#: fixed public candidate grid: 32 price points j*20000 (TPC-H
#: o_totalprice domain knowledge, data-independent by construction)
_EM_STEP = 20_000
_EM_K = 32


def _dp_exponential_oracle() -> str:
    return f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    bins AS (
        SELECT LEAST(CAST(CEIL(o_totalprice / {_EM_STEP}.0e0) AS BIGINT),
                     {_EM_K}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
    grid AS (SELECT UNNEST(range(1, {_EM_K + 1})) AS j),
    rankb AS (
        SELECT g.j, CAST(g.j * {_EM_STEP} AS BIGINT) AS candidate,
               CAST(COALESCE(SUM(b.cnt), 0) AS BIGINT) AS rank_below
        FROM grid g LEFT JOIN bins b ON b.bin <= g.j
        GROUP BY g.j),
    scored AS (
        SELECT candidate, rank_below, n.n,
               -ABS(2 * rank_below - n.n) AS utility2,
               -ln(-ln((CAST(CONCAT('0x',
                        SUBSTR(md5('em:' || CAST(candidate AS VARCHAR)),
                               1, 12)) AS BIGINT) + 0.5e0)
                       / 281474976710656.0e0)) AS gumbel
        FROM rankb CROSS JOIN n),
    final AS (
        SELECT candidate, rank_below, utility2,
               FLOOR(gumbel * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS gumbel,
               FLOOR((0.25e0 * utility2 + gumbel) * 1000000.0e0 + 0.5e0)
                   / 1000000.0e0 AS score
        FROM scored)
    SELECT candidate, rank_below, utility2, gumbel, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, candidate) = 1
                AS INT) AS is_released
    FROM final
    ORDER BY candidate
    """


@query("privacy_dp_exponential", oracle=_dp_exponential_oracle())
def privacy_dp_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy tier — the EXPONENTIAL MECHANISM (McSherry–Talwar), the
    second DP primitive beside privacy_dp_count's Laplace: releases a
    DP MEDIAN of o_totalprice by scoring each candidate split point c
    on a FIXED PUBLIC grid ({k} points, j·{step} — data-independent, so
    the candidate set leaks nothing) with utility −|rank(c) − n/2|
    (doubled to stay integer: utility2 = −|2·rank − n|, sensitivity 2)
    and selecting argmax of ε·utility2/4 + Gumbel — the Gumbel-max
    trick, which IS the exponential mechanism exactly (ε = 1). The
    Gumbel draw is a seeded md5 of the candidate, so the release is
    deterministic and replayable — the same audit property
    privacy_dp_count documents (swap a CSPRNG for production draws).

    Exactness: ranks and utility2 exact int64 (the cumulative rollup
    runs over the {k}-row grid, never the fact table); the Gumbel is
    −ln(−ln u) on an exact 48-bit dyadic u — an identical expression
    tree rounded at 6 dp; the argmax ranks on the ROUNDED score with a
    candidate tie-break.

    100 TB: one map-side bin aggregate over orders (the only
    fact-table touch), then everything is {k}-row grid state; the
    released row is a window rank over {k} rows. Candidate grids for
    other quantiles/columns reuse the identical plan."""
    orders = load_table(spark, sf_dir, "orders")
    n = orders.agg(F.count("*").cast("long").alias("n"))
    bins = orders.groupBy(
        F.least(
            F.ceil(F.col("o_totalprice") / F.lit(float(_EM_STEP))),
            F.lit(_EM_K),
        ).cast("long").alias("bin")
    ).agg(F.count("*").cast("long").alias("cnt"))
    grid = spark.range(1, _EM_K + 1).select(F.col("id").alias("j"))
    rankb = (
        grid.join(F.broadcast(bins), bins["bin"] <= grid["j"], "left")
        .groupBy("j")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(
            "rank_below"
        ))
        .select(
            (F.col("j") * _EM_STEP).cast("long").alias("candidate"),
            "rank_below",
        )
    )
    u = u48("em", F.col("candidate").cast("string"))
    gumbel = -F.log(-F.log(u))
    scored = rankb.crossJoin(F.broadcast(n)).select(
        "candidate",
        "rank_below",
        (-F.abs(F.lit(2) * F.col("rank_below") - F.col("n"))).alias(
            "utility2"
        ),
        gumbel.alias("g_raw"),
    )
    final = scored.select(
        "candidate",
        "rank_below",
        "utility2",
        (F.floor(F.col("g_raw") * F.lit(1000000.0) + F.lit(0.5))
         / F.lit(1000000.0)).alias("gumbel"),
        (
            F.floor(
                (F.lit(0.25) * F.col("utility2") + F.col("g_raw"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), "candidate")
    return (
        final.withColumn(
            "is_released", (F.row_number().over(w) == 1).cast("int")
        )
        .orderBy("candidate")
    )
