"""Recommender wave: item-item collaborative filtering (cosine kNN).

`market_basket` (plans/analytics4.py) mines BASKET-level association
(support/confidence/lift within one order). This wave adds the other
classic recommender primitive — Sarwar et al.'s item-based
collaborative filtering — at CUSTOMER level: two brands are similar
when the same customers buy both, scored by cosine over binary
customer-incidence vectors, and each item reports its top-5 neighbors.

    cos(a, b) = |C_a ∩ C_b| / sqrt(|C_a| · |C_b|)

100 TB scale: the item-pair space is generated through the
per-customer self-join (the standard item-CF bound — fan-out is
Σ_c |items(c)|², bounded by the per-customer distinct-item cap, never
|items|²) and the part dim broadcasts onto the lineitem fact. Top-5
per item is a per-group window limit (WindowGroupLimit below the
shuffle), not a global sort. All counts are exact integers; the single
sqrt/divide is the identical expression both engines round at
projection, and neighbor ranking orders by the UNROUNDED cosine (both
engines compute the same double) with the neighbor id as the exact
tiebreak.

Reference parity: readme:10's "business-ready tables for analytics" —
the curated-tier workload a merchandising/recommendation consumer runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table, shared
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import REGISTRY, query

# ---------------------------------------------------------------------------
# session-shared item-CF build (r9 optimization): recsys_item_knn,
# recsys_coverage (which nests the knn plan) and recsys_diversity_ild
# all derive from the SAME customer-brand incidence and brand
# co-occurrence relations — build each once per (session, warehouse)
# like the graph-backbone ownership contract (catalog.shared).
# recsys_hit_rate retrains on the leakage-safe TRAIN split and cannot
# share.
# ---------------------------------------------------------------------------


@shared
def _cf_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c, brand) customer-brand incidence, checkpointed."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # r10 (guide §2.3): dedup (orderkey, brand) before the orders
    # join — the join and the final (c, brand) distinct then process
    # the per-order deduped rows instead of every lineitem
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("k0"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    return (
        ob.join(orders, ob.k0 == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), "brand")
        .distinct()
        .localCheckpoint(eager=False)
    )


@shared
def _cf_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand_a < brand_b, co_n) co-purchase counts, checkpointed."""
    v = _cf_incidence(spark, sf_dir)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("co_n"))
        .localCheckpoint(eager=False)
    )

#: neighbors reported per item
_TOP_N = 5


@query(
    "recsys_item_knn",
    oracle=f"""
    WITH v AS (
        SELECT DISTINCT o.o_custkey AS c, p.p_brand AS brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey),
    item AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_cust
             FROM v GROUP BY 1),
    co AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS co_n
        FROM v a JOIN v b ON a.c = b.c AND a.brand < b.brand
        GROUP BY 1, 2),
    sym AS (
        SELECT brand_a AS item, brand_b AS neighbor, co_n FROM co
        UNION ALL
        SELECT brand_b AS item, brand_a AS neighbor, co_n FROM co),
    scored AS (
        SELECT s.item, s.neighbor, s.co_n,
               s.co_n / SQRT(ia.n_cust * 1.0e0 * ib.n_cust) AS cos_raw
        FROM sym s
        JOIN item ia ON ia.brand = s.item
        JOIN item ib ON ib.brand = s.neighbor),
    ranked AS (
        SELECT item, neighbor, co_n, cos_raw,
               row_number() OVER (PARTITION BY item
                                  ORDER BY cos_raw DESC, neighbor) AS rnk
        FROM scored)
    SELECT item, neighbor, co_n,
           {sql_roundn("cos_raw", 6)} AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_TOP_N}
    ORDER BY item, rnk
    """,
)
def recsys_item_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based CF: top-5 cosine neighbors per brand over binary
    customer-incidence vectors; pair counts via the per-customer
    self-join, dims broadcast, per-item window limit."""
    # session-shared incidence + co-occurrence (see _cf_incidence):
    # coverage nests this whole plan and diversity_ild consumes the
    # same relations — the fact join and the Σ|profile|² self-join now
    # run once per session instead of once per key
    v = _cf_incidence(spark, sf_dir)
    item = v.groupBy("brand").agg(F.count("*").alias("n_cust"))
    co = _cf_cooccurrence(spark, sf_dir)
    sym = co.select(
        F.col("brand_a").alias("item"),
        F.col("brand_b").alias("neighbor"),
        "co_n",
    ).unionAll(
        co.select(
            F.col("brand_b").alias("item"),
            F.col("brand_a").alias("neighbor"),
            "co_n",
        )
    )
    ia = item.select(
        F.col("brand").alias("item"), F.col("n_cust").alias("na")
    )
    ib = item.select(
        F.col("brand").alias("neighbor"), F.col("n_cust").alias("nb")
    )
    scored = (
        sym.join(F.broadcast(ia), "item")
        .join(F.broadcast(ib), "neighbor")
        .withColumn(
            "cos_raw",
            F.col("co_n") / F.sqrt(F.col("na") * F.lit(1.0) * F.col("nb")),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cos_raw"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TOP_N)
        .select(
            "item",
            "neighbor",
            "co_n",
            roundn(F.col("cos_raw"), 6).alias("cosine"),
            "rnk",
        )
        .orderBy("item", "rnk")
    )


# ---------------------------------------------------------------------------
# recommendation-list quality metrics (r4r wave)
# ---------------------------------------------------------------------------


def _coverage_oracle() -> str:
    knn = REGISTRY["recsys_item_knn"].oracle
    return f"""
    WITH knn AS ({knn}),
    pop AS (
        SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1),
    pt AS (SELECT CAST(SUM(n_lines) AS BIGINT) AS total_lines FROM pop),
    slots AS (
        SELECT k.neighbor, pop.n_lines, pt.total_lines,
               CAST(FLOOR(-log2(CAST(pop.n_lines AS DOUBLE)
                                / CAST(pt.total_lines AS DOUBLE))
                          * 1000000.0e0 + 0.5e0) AS BIGINT) AS nov_u
        FROM knn k JOIN pop ON pop.brand = k.neighbor CROSS JOIN pt),
    occ AS (
        SELECT neighbor, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM slots GROUP BY 1),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_slots,
               CAST(SUM(nov_u) AS BIGINT) AS nov_sum
        FROM slots),
    base AS (
        SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_items FROM knn),
    distinct_rec AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rec FROM occ),
    top1 AS (
        SELECT CAST(MAX(n_occ) AS BIGINT) AS max_occ FROM occ)
    SELECT b.n_items, a.n_slots, d.n_rec AS distinct_recommended,
           FLOOR(CAST(d.n_rec AS DOUBLE) / CAST(b.n_items AS DOUBLE)
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS coverage,
           FLOOR(CAST(a.nov_sum AS DOUBLE) / CAST(a.n_slots AS DOUBLE)
                 / 1000000.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
               AS mean_novelty_bits,
           FLOOR(CAST(t.max_occ AS DOUBLE) / CAST(a.n_slots AS DOUBLE)
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS top_neighbor_share
    FROM base b CROSS JOIN agg a CROSS JOIN distinct_rec d CROSS JOIN top1 t
    """


@query("recsys_coverage", oracle=_coverage_oracle())
def recsys_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender tier — LIST-QUALITY metrics over the item-CF top-5
    lists (recsys_item_knn's output, rebuilt through the same plan
    and nested verbatim in the oracle so the two keys can never
    drift): catalog COVERAGE (share of items that appear as anyone's
    neighbor — popularity bias shrinks it), mean NOVELTY (self-
    information -log2 of each recommended brand's purchase share — a
    system that only recommends bestsellers scores near the minimum),
    and the top neighbor's slot share (concentration).  The
    accuracy-independent half of a recommender review: MMR/kNN keys
    measure relevance, this measures what the lists DO to the
    catalog.

    Exactness: coverage/concentration are exact integer ratios with
    one division each; per-slot novelty bits are floor-quantized to
    integer micro-bits before the mean (libm log2 as one identical
    tree), so summation order is free.

    100 TB: one extra map-side brand-popularity pass; every metric
    then aggregates the brand-cardinality list relation with one-row
    broadcasts."""
    knn = recsys_item_knn(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pop = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count("*").cast("long").alias("n_lines"))
    )
    pt = pop.agg(F.sum("n_lines").cast("long").alias("total_lines"))
    slots = (
        knn.join(pop, knn.neighbor == pop.brand)
        .crossJoin(F.broadcast(pt))
        .select(
            "neighbor",
            F.floor(
                -F.log2(
                    F.col("n_lines").cast("double")
                    / F.col("total_lines").cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("nov_u"),
        )
    )
    slots = slots.localCheckpoint(eager=False)  # occ + agg consumers
    occ = slots.groupBy("neighbor").agg(F.count("*").cast("long").alias("n_occ"))
    agg = slots.agg(
        F.count("*").cast("long").alias("n_slots"),
        F.sum("nov_u").cast("long").alias("nov_sum"),
    )
    base = knn.agg(F.countDistinct("item").cast("long").alias("n_items"))
    dr = occ.agg(F.count("*").cast("long").alias("n_rec"))
    t1 = occ.agg(F.max("n_occ").cast("long").alias("max_occ"))
    return (
        base.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(dr))
        .crossJoin(F.broadcast(t1))
        .select(
            "n_items",
            "n_slots",
            F.col("n_rec").alias("distinct_recommended"),
            roundn(
                F.col("n_rec").cast("double") / F.col("n_items").cast("double"),
                4,
            ).alias("coverage"),
            roundn(
                F.col("nov_sum").cast("double") / F.col("n_slots").cast("double")
                / F.lit(1000000.0),
                4,
            ).alias("mean_novelty_bits"),
            roundn(
                F.col("max_occ").cast("double") / F.col("n_slots").cast("double"),
                4,
            ).alias("top_neighbor_share"),
        )
    )


# ---------------------------------------------------------------------------
# leave-last-order-out hit-rate evaluation (r4y wave)
# ---------------------------------------------------------------------------

#: neighbors per profile item feeding the candidate pool
_HR_NB = 5

#: recommendation list length evaluated
_HR_K = 10


def _hit_rate_oracle() -> str:
    return f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS c, p.p_brand AS brand,
               o.o_orderdate AS d, o.o_orderkey AS k
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey),
    ords AS (SELECT DISTINCT c, d, k FROM inter),
    lastord AS (
        SELECT c, d, k FROM (
            SELECT c, d, k,
                   row_number() OVER (PARTITION BY c
                                      ORDER BY d DESC, k DESC) AS rn
            FROM ords) WHERE rn = 1),
    held AS (
        SELECT i.c, MIN(i.brand) AS held_brand
        FROM inter i JOIN lastord lo
          ON i.c = lo.c AND i.d = lo.d AND i.k = lo.k
        GROUP BY i.c),
    train AS (
        SELECT i.c, i.brand FROM inter i JOIN lastord lo ON i.c = lo.c
        WHERE NOT (i.d = lo.d AND i.k = lo.k)),
    v AS (SELECT DISTINCT c, brand FROM train),
    item AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_cust
             FROM v GROUP BY 1),
    co AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS co_n
        FROM v a JOIN v b ON a.c = b.c AND a.brand < b.brand
        GROUP BY 1, 2),
    sym AS (
        SELECT brand_a AS item, brand_b AS neighbor, co_n FROM co
        UNION ALL
        SELECT brand_b AS item, brand_a AS neighbor, co_n FROM co),
    nb AS (
        SELECT item, neighbor, cos_u FROM (
            SELECT s.item, s.neighbor,
                   CAST(FLOOR(s.co_n
                              / SQRT(ia.n_cust * 1.0e0 * ib.n_cust)
                              * 1000000.0e0 + 0.5e0) AS BIGINT) AS cos_u,
                   row_number() OVER (
                       PARTITION BY s.item
                       ORDER BY s.co_n / SQRT(ia.n_cust * 1.0e0
                                              * ib.n_cust) DESC,
                                s.neighbor) AS rnk
            FROM sym s
            JOIN item ia ON ia.brand = s.item
            JOIN item ib ON ib.brand = s.neighbor)
        WHERE rnk <= {_HR_NB}),
    cand AS (
        SELECT p.c, nb.neighbor, CAST(SUM(nb.cos_u) AS BIGINT) AS score_u
        FROM v p JOIN nb ON nb.item = p.brand
        WHERE NOT EXISTS (
            SELECT 1 FROM v p2
            WHERE p2.c = p.c AND p2.brand = nb.neighbor)
        GROUP BY p.c, nb.neighbor),
    rec AS (
        SELECT c, neighbor, rnk FROM (
            SELECT c, neighbor,
                   row_number() OVER (PARTITION BY c
                                      ORDER BY score_u DESC, neighbor)
                       AS rnk
            FROM cand) WHERE rnk <= {_HR_K}),
    evalu AS (
        SELECT h.c, h.held_brand FROM held h
        WHERE EXISTS (SELECT 1 FROM v WHERE v.c = h.c)),
    hits AS (
        SELECT e.c, r.rnk
        FROM evalu e JOIN rec r
          ON r.c = e.c AND r.neighbor = e.held_brand),
    agg AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM evalu) AS n_eval,
            CAST(COALESCE(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS hits_at_1,
            CAST(COALESCE(SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS hits_at_5,
            CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS hits_at_10,
            CAST(COALESCE(SUM(1000000 // rnk), 0) AS BIGINT) AS mrr_micro
        FROM hits)
    SELECT n_eval, hits_at_1, hits_at_5, hits_at_10,
           {sql_roundn("hits_at_1 * 1.0e0 / n_eval", 6)} AS hit_rate_1,
           {sql_roundn("hits_at_5 * 1.0e0 / n_eval", 6)} AS hit_rate_5,
           {sql_roundn("hits_at_10 * 1.0e0 / n_eval", 6)} AS hit_rate_10,
           {sql_roundn(
               "CAST(mrr_micro AS DOUBLE) / (1000000.0e0 * n_eval)", 6
           )} AS mrr_10
    FROM agg
    """


@query("recsys_hit_rate", oracle=_hit_rate_oracle())
def recsys_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender EVALUATION — leave-last-order-out hit rate: hold
    out each customer's latest order (deterministic (date, key) order,
    min-brand tie-break), retrain the item-CF similarity on the
    REMAINING interactions (no test leakage into the cosine matrix),
    score candidates per customer as the sum of top-{n} neighbor
    similarities to profile brands (own brands excluded), and check
    whether the held-out brand appears in the top-{k} list —
    hit-rate@1/5/10 + MRR@10, the offline metrics a recommender ships
    or dies by.

    Exactness: similarities are floor-quantized to integer 1e-6 units
    BEFORE the per-customer score sum, so candidate scores are exact
    int64 no matter the join order; rankings are integer/lexicographic;
    the four rates are single divisions (MRR reciprocal ranks are
    integer 1e6 DIV r units).

    100 TB: train/holdout split is one window over per-customer orders
    (WindowGroupLimit); the similarity build is the item-CF
    Σ|profile|²-bounded self-join; candidate generation fans out
    |profile|×{n} per customer and collapses by (customer, brand) —
    map-side combinable; every ranking is per-group window-limited.
    Brand cardinality bounds the matrix at dim size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # r10 (guide §2.3 — shuffle fewer bytes): dedup (orderkey, brand)
    # BEFORE attaching the order columns.  (c, d, k) are functionally
    # determined by the orderkey, so the post-join 4-column distinct is
    # exactly the pre-join 2-column distinct followed by the 1:1 orders
    # join — the dedup exchange carries 2 narrow columns instead of the
    # full joined row, and the post-join distinct disappears.
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("k"), F.col("p_brand").alias("brand")
        )
        .distinct()
    )
    inter = (
        ob.join(orders, ob.k == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            "brand",
            F.col("o_orderdate").alias("d"),
            "k",
        )
        .localCheckpoint(eager=False)  # holdout + train consumers
    )
    # r10 stage-count cut (r9 verdict task #5): the holdout/train split
    # ran a distinct + a ranking window + TWO inter⋈lastord joins (~6
    # exchanges).  The last order per customer is simply the max
    # (d, k) struct, so ONE per-customer window aggregate tags every
    # interaction row as holdout-or-train in place; each consumer
    # branch then costs exactly one customer-keyed exchange:
    #   - v (train incidence): filter ¬last + distinct — the distinct's
    #     (c, brand) clustering is satisfied by the window's
    #     HashPartitioning(c) (partitioning exprs ⊆ grouping exprs);
    #   - evalu (held brand + trainability): filter/conditional aggs in
    #     one groupBy(c) riding the same window partitioning — the
    #     n_train > 0 filter IS the old "c ∈ v" semi-join.
    # Identical rows: max(struct(d,k)) = the row_number-1 order under
    # (d DESC, k DESC); min(brand | last) = the old held join + min;
    # the train filter is the verbatim old NOT (d = dl AND k = kl).
    is_last = F.struct("d", "k") == F.max(F.struct("d", "k")).over(
        Window.partitionBy("c")
    )
    tagged = inter.withColumn("__last", is_last)
    v = (
        tagged.filter(~F.col("__last"))
        .select("c", "brand")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cstats = tagged.groupBy("c").agg(
        F.min(F.when(F.col("__last"), F.col("brand"))).alias("held_brand"),
        F.sum(F.when(~F.col("__last"), 1).otherwise(0)).alias("__n_train"),
    )
    item = v.groupBy("brand").agg(F.count("*").cast("long").alias("n_cust"))
    a, b = v.alias("a"), v.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("long").alias("co_n"))
    )
    sym = co.select(
        F.col("brand_a").alias("item"), F.col("brand_b").alias("neighbor"), "co_n"
    ).unionAll(
        co.select(
            F.col("brand_b").alias("item"),
            F.col("brand_a").alias("neighbor"),
            "co_n",
        )
    )
    ia = item.select(F.col("brand").alias("item"), F.col("n_cust").alias("na"))
    ib = item.select(
        F.col("brand").alias("neighbor"), F.col("n_cust").alias("nb")
    )
    cos_raw = F.col("co_n") / F.sqrt(F.col("na") * F.lit(1.0) * F.col("nb"))
    nb5 = (
        sym.join(F.broadcast(ia), "item")
        .join(F.broadcast(ib), "neighbor")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("item").orderBy(
                    F.desc(cos_raw), F.asc("neighbor")
                )
            ),
        )
        .filter(F.col("rnk") <= _HR_NB)
        .select(
            "item",
            "neighbor",
            F.floor(cos_raw * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("cos_u"),
        )
    )
    # r10: cluster both anti-join sides on the CUSTOMER key only —
    # HashPartitioning(c) co-satisfies the (c, neighbor)=(c2, brand2)
    # anti-join's clustering on both sides AND the downstream
    # (c, neighbor) aggregate AND the per-customer ranking window, so
    # candidate generation + scoring + ranking run in the two
    # repartition exchanges instead of joining on the 2-column key and
    # re-exchanging for the window.
    cand = (
        v.repartition("c")
        .join(F.broadcast(nb5), v.brand == nb5.item)
        .join(
            v.select(F.col("c").alias("c2"), F.col("brand").alias("brand2"))
            .repartition("c2"),
            (F.col("c") == F.col("c2")) & (F.col("neighbor") == F.col("brand2")),
            "left_anti",
        )
        .groupBy("c", "neighbor")
        .agg(F.sum("cos_u").cast("long").alias("score_u"))
    )
    rec = cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("c").orderBy(F.desc("score_u"), F.asc("neighbor"))
        ),
    ).filter(F.col("rnk") <= _HR_K)
    evalu = cstats.filter(F.col("__n_train") > 0).select("c", "held_brand")
    evalu = evalu.localCheckpoint(eager=False)  # denominator + hits consumers
    hits = evalu.join(
        rec,
        (rec.c == evalu.c) & (rec.neighbor == evalu.held_brand),
    ).select(rec.rnk)
    n_eval = evalu.agg(F.count("*").cast("long").alias("n_eval"))
    agg = hits.agg(
        F.coalesce(F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("hits_at_1"),
        F.coalesce(F.sum(F.when(F.col("rnk") <= 5, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("hits_at_5"),
        F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("hits_at_10"),
        F.coalesce(F.sum(F.expr("1000000 DIV rnk")), F.lit(0))
        .cast("long")
        .alias("mrr_micro"),
    )
    return n_eval.crossJoin(F.broadcast(agg)).select(
        "n_eval",
        "hits_at_1",
        "hits_at_5",
        "hits_at_10",
        roundn(
            F.col("hits_at_1") * F.lit(1.0) / F.col("n_eval").cast("double"), 6
        ).alias("hit_rate_1"),
        roundn(
            F.col("hits_at_5") * F.lit(1.0) / F.col("n_eval").cast("double"), 6
        ).alias("hit_rate_5"),
        roundn(
            F.col("hits_at_10") * F.lit(1.0) / F.col("n_eval").cast("double"),
            6,
        ).alias("hit_rate_10"),
        roundn(
            F.col("mrr_micro").cast("double")
            / (F.lit(1000000.0) * F.col("n_eval").cast("double")),
            6,
        ).alias("mrr_10"),
    )


recsys_hit_rate.__doc__ = recsys_hit_rate.__doc__.format(n=_HR_NB, k=_HR_K)


# ---------------------------------------------------------------------------
# intra-list diversity of the served lists (r6h wave)
# ---------------------------------------------------------------------------


def _ild_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT DISTINCT o.o_custkey AS c, p.p_brand AS brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey),
    item AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_cust
             FROM v GROUP BY 1),
    co AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS co_n
        FROM v a JOIN v b ON a.c = b.c AND a.brand < b.brand
        GROUP BY 1, 2),
    cosq AS (
        SELECT brand_a, brand_b,
               CAST(FLOOR(co.co_n / SQRT(ia.n_cust * 1.0e0 * ib.n_cust)
                          * 1000000.0e0 + 0.5e0) AS BIGINT) AS cos_ppm
        FROM co
        JOIN item ia ON ia.brand = co.brand_a
        JOIN item ib ON ib.brand = co.brand_b),
    sym AS (
        SELECT brand_a AS item, brand_b AS neighbor, co_n FROM co
        UNION ALL
        SELECT brand_b, brand_a, co_n FROM co),
    scored AS (
        SELECT s.item, s.neighbor,
               s.co_n / SQRT(ia.n_cust * 1.0e0 * ib.n_cust) AS cos_raw
        FROM sym s
        JOIN item ia ON ia.brand = s.item
        JOIN item ib ON ib.brand = s.neighbor),
    lists AS (
        SELECT item, neighbor FROM (
            SELECT item, neighbor,
                   row_number() OVER (PARTITION BY item
                                      ORDER BY cos_raw DESC, neighbor)
                       AS rnk
            FROM scored) WHERE rnk <= 5),
    pairs AS (
        SELECT a.item,
               LEAST(a.neighbor, b.neighbor) AS na,
               GREATEST(a.neighbor, b.neighbor) AS nb
        FROM lists a JOIN lists b
          ON a.item = b.item AND a.neighbor < b.neighbor),
    dis AS (
        SELECT p.item,
               1000000 - COALESCE(c.cos_ppm, 0) AS dis_ppm,
               CASE WHEN c.cos_ppm IS NULL THEN 1 ELSE 0 END AS unseen
        FROM pairs p
        LEFT JOIN cosq c ON c.brand_a = p.na AND c.brand_b = p.nb)
    SELECT item,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(dis_ppm) // COUNT(*) AS BIGINT) AS ild_ppm,
           CAST(SUM(unseen) AS BIGINT) AS n_never_cobought
    FROM dis
    GROUP BY item
    ORDER BY item
    """


@query("recsys_diversity_ild", oracle=_ild_oracle())
def recsys_diversity_ild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender wave — INTRA-LIST DIVERSITY of the served top-5
    lists: mean pairwise dissimilarity (1 − cosine) among each list's
    OWN members — the metric that catches the classic CF failure of
    five near-identical recommendations (`recsys_mmr_rerank` optimizes
    this trade-off at serving time; this key MEASURES what the plain
    kNN lists deliver, and `recsys_coverage` counts catalog reach).
    Neighbor pairs never co-bought by anyone carry dissimilarity 1
    and are counted separately (``n_never_cobought`` — the stronger
    diversity evidence).

    Exactness: pairwise cosines floor-quantize to integer ppm BEFORE
    the per-list mean (integer sum + DIV) — no float crosses rows.

    100 TB: reuses item-CF's bounded shapes — the per-customer
    self-join for co-counts, per-item WindowGroupLimit for lists; the
    within-list pair explode is C(5,2) = 10 rows per item.
    """
    # session-shared incidence + co-occurrence (see _cf_incidence)
    v = _cf_incidence(spark, sf_dir)
    item = v.groupBy("brand").agg(F.count("*").alias("n_cust"))
    co = _cf_cooccurrence(spark, sf_dir)  # checkpointed: cosq + both sym arms
    ia = item.select(
        F.col("brand").alias("brand_a"), F.col("n_cust").alias("na")
    )
    ib = item.select(
        F.col("brand").alias("brand_b"), F.col("n_cust").alias("nb")
    )
    cosq = (
        co.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            F.floor(
                F.col("co_n")
                / F.sqrt(F.col("na") * F.lit(1.0) * F.col("nb"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_ppm"),
        )
    )
    sym = co.select(
        F.col("brand_a").alias("item"),
        F.col("brand_b").alias("neighbor"),
        "co_n",
    ).unionByName(
        co.select(
            F.col("brand_b").alias("item"),
            F.col("brand_a").alias("neighbor"),
            "co_n",
        )
    )
    ia2 = item.select(
        F.col("brand").alias("item"), F.col("n_cust").alias("na")
    )
    ib2 = item.select(
        F.col("brand").alias("neighbor"), F.col("n_cust").alias("nb")
    )
    scored = (
        sym.join(F.broadcast(ia2), "item")
        .join(F.broadcast(ib2), "neighbor")
        .withColumn(
            "cos_raw",
            F.col("co_n")
            / F.sqrt(F.col("na") * F.lit(1.0) * F.col("nb")),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cos_raw"), F.asc("neighbor")
    )
    lists = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("item", "neighbor")
    )
    lists = lists.localCheckpoint(eager=False)  # both pair sides
    pairs = (
        lists.alias("x")
        .join(
            lists.alias("y"),
            (F.col("x.item") == F.col("y.item"))
            & (F.col("x.neighbor") < F.col("y.neighbor")),
        )
        .select(
            F.col("x.item").alias("item"),
            F.least("x.neighbor", "y.neighbor").alias("brand_a"),
            F.greatest("x.neighbor", "y.neighbor").alias("brand_b"),
        )
    )
    dis = pairs.join(
        F.broadcast(cosq), ["brand_a", "brand_b"], "left"
    ).select(
        "item",
        (F.lit(1000000) - F.coalesce("cos_ppm", F.lit(0)))
        .cast("long")
        .alias("dis_ppm"),
        F.when(F.col("cos_ppm").isNull(), 1).otherwise(0).alias("unseen"),
    )
    return (
        dis.groupBy("item")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("CAST(SUM(dis_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "ild_ppm"
            ),
            F.sum("unseen").cast("long").alias("n_never_cobought"),
        )
        .orderBy("item")
    )
