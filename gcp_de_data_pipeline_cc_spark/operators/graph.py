"""Shared graph backbones — built once per session, consumed by the tier.

The graph family (triangles / BFS / link-prediction / k-core /
assortativity over suppliers; LPA / modularity over brands) previously
re-derived the same collect_set + in-array pair-explode edge build inside
every plan function: correct per key, but the expensive subtree ran once
PER CONSUMER (≈20 s of the sf0.1 bench; at 100 TB the pair build is a
multi-hour fact scan run seven times).  This module extracts the two
backbones behind session-scoped caches, the same shared-relation
injection contract the dedup tier already uses
(plans/sketches.py dedup_accuracy_eval's jaccard_pairs injection).

Cache discipline
----------------
Every backbone is a :func:`catalog.shared` builder, keyed by
(applicationId, sf_dir, builder, K) and rebuilt when any warehouse table
is rewritten.  The value is a localCheckpoint(eager=False) DataFrame.
The session runs AQE, so the checkpoint call itself runs the upstream
shuffle stages (the lineitem scan, pair explode and top-K cut) inside
the first consumer's plan build; every later consumer — in the SAME or
ANY LATER query of the session — reads the ≤K·n checkpointed edge
blocks instead of re-running the scan.  Memory is bounded: the supplier
backbone is ≤K·n_suppliers rows of two BIGINTs, the brand edge list is
≤|brands|² rows — both dim-sized, never fact-sized.  On a real cluster
swap localCheckpoint for checkpoint() to survive executor loss
(graph_pagerank's documented trade-off).

Reference parity: the reference repo has no graph engine; this backbone
serves the §2.13/§2.15 graph keys (SURVEY.md) built on public PySpark
patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint, load_table, shared

#: the supplier backbone's cut: strongest co-shipment partners kept per
#: supplier
SUPPLIER_K = 8

#: the trade backbones' cut: strongest outgoing flows kept per nation (the
#: raw nation x nation flow matrix is near-complete, distance 1
#: everywhere; centrality is only informative on the backbone)
TRADE_K = 3


def _pair_col() -> F.Column:
    """All ordered pairs (bs[i-1], x) inside one sorted supplier set —
    bounded by the order's line width (≤ C(8,2) structs), never
    all-pairs across orders (the market_basket shape)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("bs") - 1),
            lambda i: F.transform(
                F.slice(F.col("bs"), i + 1, F.size("bs") - i),
                lambda x: F.struct(F.col("bs")[i - 1].alias("sa"), x.alias("sb")),
            ),
        )
    )


@shared
def supplier_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical top-K co-shipment backbone: columns (sa, sb), sa < sb,
    distinct; an edge survives when EITHER endpoint ranks it in its K
    strongest partners (weight DESC, partner ASC tie-break), K =
    :data:`SUPPLIER_K`.

    One lineitem scan total per session: per-order supplier sets via
    collect_set, pairs generated inside the sorted array, both edge
    orientations exploded from one row, WindowGroupLimit-pruned rank.
    The top-K cut keeps the backbone ≤K·n — LINEAR in nodes — where a
    weight-quantile cut would stay quadratic (graph_triangles' measured
    argument)."""
    li = load_table(spark, sf_dir, "lineitem")
    sets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("bs"))
        .filter(F.size("bs") >= 2)
    )
    e = (
        sets.select(F.explode(_pair_col()).alias("p"))
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.count("*").alias("w"))
    )
    # both orientations from ONE edge row — no union diamond
    d = e.select(
        F.explode(
            F.array(
                F.struct(F.col("sa").alias("u"), F.col("sb").alias("v")),
                F.struct(F.col("sb").alias("u"), F.col("sa").alias("v")),
            )
        ).alias("o"),
        "w",
    ).select(F.col("o.u").alias("u"), F.col("o.v").alias("v"), "w")
    rn = F.row_number().over(
        Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    )
    return (
        d.withColumn("rn", rn)
        .filter(F.col("rn") <= SUPPLIER_K)
        .select(F.least("u", "v").alias("sa"), F.greatest("u", "v").alias("sb"))
        .distinct()
        .localCheckpoint(eager=False)  # ≤K·n rows, shared by the tier
    )


def supplier_backbone_sql(materialize: bool = False) -> str:
    """The oracle twin of :func:`supplier_backbone`: the CTEs ``pl``,
    ``e``, ``d``, ``r`` and ``bb`` (sa, sb) at the :data:`SUPPLIER_K`
    cut.  ``materialize`` marks e, d, r and bb MATERIALIZED for the
    consumer that reads them once per peeling round."""
    m = " MATERIALIZED" if materialize else ""
    return f"""pl AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS{m} (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2),
    d AS{m} (
        SELECT sa AS u, sb AS v, w FROM e
        UNION ALL SELECT sb, sa, w FROM e),
    r AS{m} (
        SELECT u, v,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY w DESC, v ASC)
                   AS rn
        FROM d),
    bb AS{m} (
        SELECT DISTINCT LEAST(u, v) AS sa, GREATEST(u, v) AS sb
        FROM r WHERE rn <= {SUPPLIER_K})"""


@shared
def supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both orientations of the supplier backbone: columns (u, v).
    Checkpointed separately — BFS relaxations / k-core peels / wedge
    joins consume it repeatedly."""
    bb = supplier_backbone(spark, sf_dir)
    return (
        bb.select(
            F.explode(
                F.array(
                    F.struct(F.col("sa").alias("u"), F.col("sb").alias("v")),
                    F.struct(F.col("sb").alias("u"), F.col("sa").alias("v")),
                )
            ).alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
        .localCheckpoint(eager=False)
    )


def supplier_graph_sql() -> str:
    """The oracle twin of :func:`supplier_graph`: the
    :func:`supplier_backbone_sql` CTEs and ``g`` (u, v), both
    orientations of ``bb``."""
    return f"""{supplier_backbone_sql()},
    g AS (
        SELECT sa AS u, sb AS v FROM bb
        UNION ALL SELECT sb, sa FROM bb)"""


@shared
def brand_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted brand co-purchase edge list, BOTH orientations:
    columns (v, u, w) — u the label source, v the adoptee (LPA's join
    orientation).  The Σ|basket|² self-join runs once per session."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    tx = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint(eager=False)  # both self-join sides
    )
    a, b = tx.alias("a"), tx.alias("b")
    eup = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.p_brand").alias("v"), F.col("b.p_brand").alias("u"))
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)  # feeds both orientations
    )
    return (
        eup.unionAll(
            eup.select(F.col("u").alias("v"), F.col("v").alias("u"), "w")
        )
        .localCheckpoint(eager=False)
    )


def lpa_step(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One label-propagation round: each node adopts the label with the
    largest incident edge-weight sum, smallest label on ties —
    deterministic, integer-exact (Raghavan et al., weighted)."""
    s = (
        e.join(F.broadcast(labels.select(F.col("v").alias("u"), "label")), "u")
        .groupBy("v", "label")
        .agg(F.sum("w").alias("tw"))
    )
    wv = Window.partitionBy("v").orderBy(F.desc("tw"), F.asc("label"))
    return (
        s.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("v", "label")
    )


@shared
def lpa_labels(
    spark: SparkSession, sf_dir: str, iters: int = 2
) -> list[DataFrame]:
    """Checkpointed label tables after rounds 1..iters over the brand
    graph (round 0 = every node its own community).  LPA reports rounds
    1 and 2; modularity scores round 2 — one shared propagation."""
    e = brand_copurchase_edges(spark, sf_dir)
    labels = e.select("v").distinct().withColumn("label", F.col("v"))
    ls = []
    for _ in range(iters):
        labels = lpa_step(e, labels).localCheckpoint(eager=False)
        ls.append(labels)
    return ls


def lpa_labels_sql() -> str:
    """The oracle twin of :func:`lpa_labels` with two rounds: the CTEs
    ``tx``, ``eup``, ``e`` (v, u, w), both orientations, and the label
    tables ``l0``, ``l1``, ``l2`` (v, label)."""
    rounds = "".join(
        f""",
    s{i} AS (
        SELECT e.v, l{i - 1}.label, SUM(e.w) AS tw
        FROM e JOIN l{i - 1} ON l{i - 1}.v = e.u
        GROUP BY 1, 2),
    l{i} AS (
        SELECT v, label FROM (
            SELECT v, label,
                   row_number() OVER (PARTITION BY v
                                      ORDER BY tw DESC, label) AS rn
            FROM s{i}) WHERE rn = 1)"""
        for i in (1, 2)
    )
    return f"""tx AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    eup AS (
        SELECT a.p_brand AS v, b.p_brand AS u, CAST(COUNT(*) AS BIGINT) AS w
        FROM tx a JOIN tx b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2),
    e AS (
        SELECT v, u, w FROM eup
        UNION ALL
        SELECT u AS v, v AS u, w FROM eup),
    l0 AS (SELECT DISTINCT v, v AS label FROM e){rounds}"""


@shared
def trade_sparse_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified undirected nation trade graph, columns (u, v):
    :func:`trade_sparse_digraph`'s top-:data:`TRADE_K` flows per source nation,
    symmetrized.  The raw flow matrix is near-complete — distance-1
    everywhere — so the centrality keys (closeness, betweenness) are
    only informative on this backbone.  It reuses the digraph's one fact
    pass per session; the result is a checkpointed <= 2·TRADE_K·|nations|-row
    relation shared by every consumer (the supplier_backbone ownership
    contract)."""
    kept = (
        trade_sparse_digraph(spark, sf_dir)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    return (
        kept.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
        .localCheckpoint(eager=False)
    )


@shared
def trade_sparse_digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed sparsified nation trade digraph, columns (src, dst):
    keep each source nation's :data:`TRADE_K` strongest outgoing trade flows
    (weight = lineitems shipped customer-nation -> supplier-nation,
    self-flows dropped, rank ties on partner key), WITHOUT the
    symmetrization :func:`trade_sparse_graph` adds — direction is the
    point for SCC/condensation analyses (u sells to v is not v sells to
    u).  One tpch_q7-shaped fact pass per session, checkpointed and
    session-cached; the undirected graph is built from it."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    rn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    )
    return (
        e.withColumn("rn", rn)
        .filter(F.col("rn") <= TRADE_K)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )


#: the nation trade flows (src, dst, w) both trade backbones cut
_TRADE_FLOW_SQL = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2"""


def trade_graph_sql(materialize_g: bool = False) -> str:
    """The oracle twin of :func:`trade_sparse_graph`: the CTEs ``e``
    (flows), ``r``, ``kept`` (a, b), a < b, at the :data:`TRADE_K` cut,
    and ``g`` (u, v), both orientations; ``materialize_g`` marks ``g``
    MATERIALIZED."""
    m = " MATERIALIZED" if materialize_g else ""
    return f"""e AS ({_TRADE_FLOW_SQL}),
    r AS (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rn
        FROM e),
    kept AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM r WHERE rn <= {TRADE_K}),
    g AS{m} (
        SELECT a AS u, b AS v FROM kept
        UNION ALL SELECT b, a FROM kept)"""


def trade_digraph_sql() -> str:
    """The oracle twin of :func:`trade_sparse_digraph`: one CTE ``e``
    (src, dst) at the :data:`TRADE_K` cut."""
    return f"""e AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM ({_TRADE_FLOW_SQL}))
        WHERE rn <= {TRADE_K})"""


@shared
def scc_labels(spark: SparkSession, sf_dir: str, rounds: int = 5) -> DataFrame:
    """Strongly-connected-component labels (u, scc_id) over
    :func:`trade_sparse_digraph`: transitive closure by ``rounds``
    squaring steps over R0 = I ∪ E (paths ≤ 2^rounds cover the nation
    domain), scc_id = min mutually-reachable node.  Session-cached and
    checkpointed — graph_scc and graph_condensation share ONE closure
    build (the supplier_backbone ownership contract)."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_digraph(spark, sf_dir)
    reach = (
        nation.select(
            F.col("n_nationkey").alias("u"),
            F.col("n_nationkey").alias("v"),
        )
        .unionByName(
            g.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def square(reach: DataFrame, _r: int) -> DataFrame:
        hop = (
            reach.alias("a")
            .join(reach.alias("b"), F.col("a.v") == F.col("b.u"))
            .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        )
        return reach.unionByName(hop).distinct()

    reach = fixpoint(reach, square, max_rounds=rounds, name="scc_labels")
    pair = (
        reach.alias("r1")
        .join(
            reach.alias("r2"),
            (F.col("r1.u") == F.col("r2.v"))
            & (F.col("r1.v") == F.col("r2.u")),
        )
        .select(F.col("r1.u").alias("u"), F.col("r1.v").alias("v"))
    )
    return (
        pair.groupBy("u")
        .agg(F.min("v").cast("long").alias("scc_id"))
        .localCheckpoint(eager=False)
    )
