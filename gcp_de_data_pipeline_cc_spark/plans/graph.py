"""Graph analytics over the trade network.

Companion to the iterative dedup clustering
(operators/dedup.connected_components): a second iterative-algorithm
shape — weighted PageRank — but with a *fixed* iteration count, which
makes it fully SQL-expressible and therefore oracle-paired (the
recursive-CTE-free unrolling: one CTE per iteration).

Graph: nations as nodes; an edge cust_nation → supp_nation weighted by
the number of lineitems shipped between them (the TPC-H Q7 join shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.graph import (
    SUPPLIER_K,
    TRADE_K,
    brand_copurchase_edges,
    lpa_labels,
    lpa_labels_sql,
    scc_labels,
    supplier_backbone,
    supplier_backbone_sql,
    supplier_graph,
    supplier_graph_sql,
    trade_digraph_sql,
    trade_graph_sql,
    trade_sparse_digraph,
    trade_sparse_graph,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query

_DAMP = 0.85
_ITERS = 3


def _oracle() -> str:
    """Unrolled PageRank: r_{t+1}(v) = (1-d)/N + d·Σ_u r_t(u)·w(u,v)/out(u)."""
    prelude = """
    WITH e AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    en AS (
        SELECT e.src, e.dst, e.w / ow.ow AS p
        FROM e JOIN (SELECT src, SUM(w) AS ow FROM e GROUP BY 1) ow
          ON e.src = ow.src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(f"""
    r{i} AS (
        SELECT nodes.node,
               {1 - _DAMP} / (SELECT n FROM nn)
                   + {_DAMP} * COALESCE(inc.s, 0.0) AS rank
        FROM nodes
        LEFT JOIN (SELECT en.dst, SUM(r{i-1}.rank * en.p) AS s
                   FROM en JOIN r{i-1} ON r{i-1}.node = en.src
                   GROUP BY en.dst) inc
          ON inc.dst = nodes.node)""")
    final = f"""
    SELECT node, {sql_roundn("rank", 6)} AS rank
    FROM r{_ITERS}"""
    return prelude + "," + ",".join(steps) + final


@query("graph_pagerank", oracle=_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, {iters} fixed iterations, damping {d}: the
    iterative-refinement pattern done Spark-first. Edge weights are
    aggregated ONCE (the only scan of the big fact join); each iteration
    is then a broadcast of the 25-row rank vector into the edge table +
    one aggregation — at 100 TB the per-iteration cost is proportional
    to |edges|, never to |lineitem|. The rank vector is explicitly
    broadcast: the iteration never shuffles the edge table.

    Fixed iteration count keeps the computation SQL-expressible; the
    convergence-loop variant of this shape is dedup_clusters
    (operators/dedup.connected_components), which the driver checks
    rows-only for exactly that reason.
    """.format(iters=_ITERS, d=_DAMP)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            c["c_nationkey"].alias("src"), s["s_nationkey"].alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    ow = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # Materialize the (tiny) normalized edge table once and cut lineage:
    # every iteration reuses it, and without the cut the returned plan
    # would re-run the 4-table fact join per iteration. localCheckpoint
    # is eager, so no cache-unpersist lifetime to manage (cf. the scd2
    # cache-leak advisory); swap for checkpoint() on a real cluster.
    en = (
        e.join(ow, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .localCheckpoint()
    )
    nodes = n.select(F.col("n_nationkey").alias("node"))
    n_nodes = nodes.count()  # one scalar; nation is a 25-row dim

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(_ITERS):
        contrib = (
            en.join(F.broadcast(ranks), en["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("incoming"))
        )
        ranks = nodes.join(
            F.broadcast(contrib), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit((1 - _DAMP) / n_nodes)
                + F.lit(_DAMP) * F.coalesce("incoming", F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", roundn(F.col("rank"), 6).alias("rank"))


@query(
    "graph_triangles",
    oracle=f"""
    WITH {supplier_backbone_sql()},
    tri AS (
        SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
        FROM bb e1
        JOIN bb e2 ON e1.sb = e2.sa
        JOIN bb e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
    nodes AS (
        SELECT a AS suppkey FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY 1 ORDER BY suppkey
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-shipment kNN backbone:
    suppliers are linked when they ship lineitems in the same order;
    each node keeps its K=8 strongest partners (weight DESC, partner
    ASC tie-break — deterministic), an edge survives if EITHER endpoint
    selected it, and each node's triangle participation on that backbone
    is counted. Triangle density is the clustering / community-cohesion
    primitive beside graph_pagerank's centrality.

    Why kNN, not a weight-quantile cut: co-occurrence graphs saturate —
    a quantile keeps a constant FRACTION of a quadratic edge set, so
    the backbone (and its triangle count) still grows quadratically
    with nodes (measured here: P80 left 109k edges / 1.8M triangles at
    sf0.1). The top-K backbone is ≤ K·n edges — LINEAR in nodes at
    every scale — and wedge fan-out is bounded by K², which is what
    makes triangle enumeration viable on a dense 100 TB graph at all.

    100 TB: the pair build is ONE pass — per-order supplier sets via
    collect_set, pairs generated inside the sorted array (bounded by
    the order's line width, ≤ C(8,2) — never all-pairs; the
    market_basket shape); both edge orientations explode from one edge
    row instead of a union-of-two-subtrees (a diamond re-runs the pair
    build per consumer). The ≤K·n backbone is built ONCE PER SESSION by
    operators/graph.supplier_backbone (session-cached localCheckpoint)
    and shared with BFS / link-prediction / k-core / assortativity —
    the r3 plan census measured the duplicated build at ~20 s of the
    sf0.1 bench; at 100 TB it is a multi-hour fact scan run 7×. The
    top-K cut is a WindowGroupLimit-pruned rank per node; the
    enumeration joins broadcast the checkpointed backbone so the wedge
    set is probed map-side; orientation sa<sb yields each triangle
    exactly once."""
    bb = supplier_backbone(spark, sf_dir)
    e1, e2, e3 = bb.alias("e1"), bb.alias("e2"), bb.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e1.sb") == F.col("e2.sa"))
        .join(
            F.broadcast(e3),
            (F.col("e3.sa") == F.col("e1.sa"))
            & (F.col("e3.sb") == F.col("e2.sb")),
        )
        .select(
            F.col("e1.sa").alias("a"),
            F.col("e1.sb").alias("b"),
            F.col("e2.sb").alias("c"),
        )
    )
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("suppkey")
    )
    return (
        nodes.groupBy("suppkey")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# label propagation communities (r3n wave)
# ---------------------------------------------------------------------------

def _lpa_oracle() -> str:
    return f"""
    WITH {lpa_labels_sql()}
    SELECT l1.v AS brand, l1.label AS label_1, l2.label AS label_2
    FROM l1 JOIN l2 ON l2.v = l1.v
    ORDER BY brand
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-extension — two unrolled label-propagation iterations over
    the brand co-purchase graph (Raghavan et al.): every node starts as
    its own community, then repeatedly adopts the label with the
    largest incident edge-weight sum (deterministic tie-break: smallest
    label). The community-detection rung beside pagerank (influence),
    graph_triangles (cohesion), and dedup_clusters (reachability —
    LPA's labels respect edge WEIGHT, which connected components
    ignore).

    Exactness: weights are integer co-occurrence counts, the argmax is
    a row_number over (SUM(w) DESC, label) — all integer/lexicographic,
    engine-exact. Fixed iteration count = fully unrolled = SQL-
    expressible (graph_pagerank's discipline; convergence-loop LPA
    follows dedup_clusters' checkpointed-loop shape instead).

    100 TB: the edge build is the measured market-basket Σ|basket|²
    relation, run once per session (operators/graph caches — shared
    with graph_modularity, which scores THIS partition); each iteration
    is one (edges ⋈ labels) hash join + argmax — labels table is
    node-sized and broadcastable."""
    l1, l2 = lpa_labels(spark, sf_dir, 2)
    return (
        l1.select(F.col("v").alias("brand"), F.col("label").alias("label_1"))
        .join(
            l2.select(F.col("v").alias("brand"), F.col("label").alias("label_2")),
            "brand",
        )
        .orderBy("brand")
    )

# ---------------------------------------------------------------------------
# BFS k-hop shortest distances (r3o wave)
# ---------------------------------------------------------------------------

_BFS_HOPS = 4


def _bfs_oracle() -> str:
    prelude = f"""
    WITH {supplier_graph_sql()},
    d0 AS (SELECT (SELECT MIN(sa) FROM bb) AS node, 0 AS dist)"""
    steps = []
    for i in range(1, _BFS_HOPS + 1):
        steps.append(f"""
    d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{i-1}
            UNION ALL
            SELECT g.v AS node, d{i-1}.dist + 1 AS dist
            FROM g JOIN d{i-1} ON d{i-1}.node = g.u)
        GROUP BY node)""")
    final = f"""
    SELECT node AS suppkey, CAST(dist AS BIGINT) AS dist
    FROM d{_BFS_HOPS} ORDER BY dist, suppkey"""
    return prelude + "," + ",".join(steps) + final


@query("graph_bfs_khop", oracle=_bfs_oracle())
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrolled breadth-first shortest hop distances from a fixed
    source (the smallest backbone supplier) over the same K=8 kNN
    co-shipment backbone as graph_triangles: dist_{t+1}(v) =
    min(dist_t(v), min_{(u,v)∈E} dist_t(u)+1), four unrolled relaxation
    steps. The reachability-with-DEPTH rung of the graph tier —
    dedup_clusters answers "same component?", BFS answers "how far?"
    (degrees-of-separation, blast-radius and lineage-impact queries).

    Exactness: distances are small integers, the min-merge is
    associative/commutative — engine-exact with no float anywhere.
    Fixed hop count keeps it SQL-expressible (graph_pagerank's
    discipline); the run-to-convergence variant follows
    dedup_clusters' checkpointed loop instead.

    100 TB: the frontier/labels table is node-sized and broadcast into
    the ≤K·n backbone each step (the edge table is the probe side,
    never shuffled); each relaxation is one broadcast join + one
    node-sized groupBy — per-step cost proportional to |edges|, and
    the expensive pair build runs ONCE PER SESSION via the shared
    operators/graph.supplier_backbone cache."""
    bb = supplier_backbone(spark, sf_dir)
    g = supplier_graph(spark, sf_dir)

    src = bb.agg(F.min("sa").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    dist = src
    for _ in range(_BFS_HOPS):
        relaxed = g.join(
            F.broadcast(dist.select(F.col("node").alias("u"), "dist")), "u"
        ).select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.select("node", "dist")
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(
        F.col("node").alias("suppkey"), F.col("dist").cast("long").alias("dist")
    ).orderBy("dist", "suppkey")


# ---------------------------------------------------------------------------
# common-neighbor link prediction (r3r wave)
# ---------------------------------------------------------------------------

_LP_TOP = 20   # predicted links reported


def _linkpred_oracle() -> str:
    return f"""
    WITH {supplier_graph_sql()},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY u),
    cn AS (
        SELECT g1.u AS a, g2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
        FROM g g1 JOIN g g2 ON g1.v = g2.u AND g1.u < g2.v
        GROUP BY 1, 2),
    cand AS (
        SELECT cn.a, cn.b, cn.common
        FROM cn
        WHERE NOT EXISTS (
            SELECT 1 FROM bb WHERE bb.sa = cn.a AND bb.sb = cn.b)),
    scored AS (
        SELECT cand.a, cand.b, cand.common,
               da.deg + db.deg - cand.common AS uni
        FROM cand
        JOIN deg da ON da.u = cand.a
        JOIN deg db ON db.u = cand.b)
    SELECT a, b, common, uni,
           {sql_roundn("1.0e0 * common / uni", 6)} AS jaccard
    FROM scored
    ORDER BY 1.0e0 * common / uni DESC, a, b
    LIMIT {_LP_TOP}
    """


@query("graph_link_prediction", oracle=_linkpred_oracle())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor LINK PREDICTION on the supplier co-shipment kNN
    backbone: for every NON-adjacent pair sharing ≥1 neighbor, the
    neighbor-Jaccard score |N(a)∩N(b)| / |N(a)∪N(b)|, top-{top}. The
    "who should be connected but isn't" rung of the graph tier —
    triangles measure existing cohesion, this predicts the missing
    edge (supplier-consolidation / recommendation shape).

    Exactness: common-neighbor counts and degrees are exact BIGINTs;
    |N(a)∪N(b)| = deg(a)+deg(b)−common by inclusion–exclusion (no
    second join); the score is one identical-tree division, and the
    top-{top} ordering ties break on (a, b) — deterministic.

    100 TB: candidate generation is the WEDGE join (g ⋈ g on the
    shared middle vertex) over the ≤K·n checkpointed backbone — fan-out
    bounded by K² per node, never all-pairs (the graph_triangles
    argument); adjacency is removed by an anti-join against the edge
    list; degrees ride a broadcast; the final top-{top} is a
    TakeOrderedAndProject heap, not a global sort; the pair build runs
    ONCE PER SESSION via the shared operators/graph caches."""
    bb = supplier_backbone(spark, sf_dir)
    g = supplier_graph(spark, sf_dir)
    deg = g.groupBy("u").agg(F.count("*").alias("deg"))
    g1, g2 = g.alias("g1"), g.alias("g2")
    cn = (
        g1.join(
            F.broadcast(g2),
            (F.col("g1.v") == F.col("g2.u"))
            & (F.col("g1.u") < F.col("g2.v")),
        )
        .groupBy(F.col("g1.u").alias("a"), F.col("g2.v").alias("b"))
        .agg(F.count("*").alias("common"))
    )
    cand = cn.join(
        bb,
        (cn["a"] == bb["sa"]) & (cn["b"] == bb["sb"]),
        "left_anti",
    )
    scored = (
        cand.join(
            F.broadcast(deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))),
            "a",
        )
        .join(
            F.broadcast(deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b"))),
            "b",
        )
        .select(
            "a",
            "b",
            "common",
            (F.col("deg_a") + F.col("deg_b") - F.col("common")).alias("uni"),
        )
    )
    score = F.lit(1.0) * F.col("common") / F.col("uni")
    return (
        scored.orderBy(score.desc(), "a", "b")
        .limit(_LP_TOP)
        .select("a", "b", "common", "uni", roundn(score, 6).alias("jaccard"))
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    top=_LP_TOP
)


# ---------------------------------------------------------------------------
# k-core decomposition (r3v wave)
# ---------------------------------------------------------------------------

_KCORE_K = 3      # core threshold
_KCORE_ROUNDS = 4  # unrolled peeling rounds


def _kcore_oracle() -> str:
    prelude = f"""
    WITH {supplier_graph_sql()},
    n0 AS (SELECT DISTINCT u AS node FROM g)"""
    steps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    n{i} AS (
        SELECT g.u AS node
        FROM g
        JOIN n{i-1} a ON a.node = g.u
        JOIN n{i-1} b ON b.node = g.v
        GROUP BY g.u
        HAVING COUNT(*) >= {_KCORE_K})""")
    last = f"n{_KCORE_ROUNDS}"
    final = f""",
    dg AS (
        SELECT g.u AS suppkey, CAST(COUNT(*) AS BIGINT) AS core_deg
        FROM g
        JOIN {last} a ON a.node = g.u
        JOIN {last} b ON b.node = g.v
        GROUP BY g.u),
    fx AS (
        SELECT CAST(SUM(CASE WHEN core_deg < {_KCORE_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below_k
        FROM dg)
    SELECT dg.suppkey, dg.core_deg, fx.n_below_k
    FROM dg, fx ORDER BY dg.suppkey"""
    return prelude + "," + ",".join(steps) + final


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-CORE decomposition by iterative peeling on the K={bk}
    co-shipment backbone: repeatedly delete nodes with degree < {k}
    (deleting a node lowers its neighbors' degrees — why one pass is
    NOT enough; the test plants a tail chain that only falls in later
    rounds). The surviving subgraph is the {k}-core — the dense
    engagement backbone used for community seeding and influence floors
    beside graph_triangles (local density) and graph_label_propagation
    (partition). {r} unrolled rounds keep it SQL-expressible; the
    emitted `n_below_k` column is the driver-visible FIXPOINT AUDIT —
    0 proves convergence on this data, nonzero says more rounds were
    needed (the honest bound of the unrolled form).

    Exactness: degrees are integer counts over semi-join-restricted
    edges; no floats anywhere.

    100 TB: each round is the edge table semi-joined against the
    node-sized survivor set (broadcast) + one degree aggregate — cost
    per round ∝ surviving edges, monotonically shrinking; the backbone
    is built once per session (operators/graph caches). Run-to-
    convergence uses the dedup_clusters checkpointed-loop shape with
    the same per-round plan."""
    g = supplier_graph(spark, sf_dir)  # every round reuses it

    def survivors(nodes):
        return (
            g.join(F.broadcast(nodes.select(F.col("node").alias("u"))), "u")
            .join(F.broadcast(nodes.select(F.col("node").alias("v"))), "v")
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
        )

    nodes = g.select(F.col("u").alias("node")).distinct()
    for _ in range(_KCORE_ROUNDS):
        nodes = survivors(nodes)
    nodes = nodes.localCheckpoint(eager=False)  # degree + both semi sides
    dg = (
        g.join(F.broadcast(nodes.select(F.col("node").alias("u"))), "u")
        .join(F.broadcast(nodes.select(F.col("node").alias("v"))), "v")
        .groupBy(F.col("u").alias("suppkey"))
        .agg(F.count("*").alias("core_deg"))
    )
    dg = dg.localCheckpoint(eager=False)  # rows + fixpoint audit
    fx = dg.agg(
        F.sum(F.when(F.col("core_deg") < _KCORE_K, 1).otherwise(0))
        .cast("long")
        .alias("n_below_k")
    )
    return (
        dg.crossJoin(F.broadcast(fx))
        .select("suppkey", "core_deg", "n_below_k")
        .orderBy("suppkey")
    )


graph_kcore.__doc__ = graph_kcore.__doc__.format(
    k=_KCORE_K, bk=SUPPLIER_K, r=_KCORE_ROUNDS
)


# ---------------------------------------------------------------------------
# modularity of the LPA communities (r3z wave)
# ---------------------------------------------------------------------------

def _modularity_oracle() -> str:
    return f"""
    WITH {lpa_labels_sql()},
    m AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM e),
    deg AS (SELECT v, CAST(SUM(w) AS BIGINT) AS deg FROM e GROUP BY v),
    com AS (
        SELECT l2.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(deg.deg) AS BIGINT) AS deg_sum
        FROM l2 JOIN deg ON deg.v = l2.v GROUP BY l2.label),
    win AS (
        SELECT la.label, CAST(SUM(e.w) AS BIGINT) AS w_in_2
        FROM e
        JOIN l2 la ON la.v = e.v
        JOIN l2 lb ON lb.v = e.u AND lb.label = la.label
        GROUP BY la.label),
    rows_ AS (
        SELECT com.label, com.n_nodes,
               COALESCE(win.w_in_2, 0) AS w_in_2, com.deg_sum,
               COALESCE(win.w_in_2, 0) * m.m2 - com.deg_sum * com.deg_sum
                   AS q_num
        FROM com LEFT JOIN win ON win.label = com.label, m),
    tot AS (SELECT CAST(SUM(q_num) AS BIGINT) AS q_num_tot FROM rows_)
    SELECT r.label, r.n_nodes, r.w_in_2, r.deg_sum,
           FLOOR(r.q_num * 1.0e0 / (m.m2 * 1.0e0 * m.m2) * 1000000.0e0
                 + 0.5e0) / 1000000.0e0 AS q_contrib,
           FLOOR(t.q_num_tot * 1.0e0 / (m.m2 * 1.0e0 * m.m2)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS q_total
    FROM rows_ r, m, tot t
    ORDER BY r.label
    """


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY score of the graph_label_propagation communities —
    the community-QUALITY audit the partition itself doesn't carry:
    Q = Σ_c (w_in_c·m₂ − d_c²) / m₂² over the same brand co-purchase
    graph and the same two LPA iterations (Newman-Girvan, weighted).
    Positive contributions = denser-than-chance communities; a
    single-community partition scores exactly 0 (tested), random-ish
    partitions go negative. The evidence rung for the community tier,
    as dedup_lsh_calibration is for the dedup tier.

    Exactness: every w_in, degree sum, and m₂ is an exact BIGINT; each
    community's Q numerator w_in·m₂ − d² is integer, the TOTAL sums
    integers (order-free), and only the final /m₂² divides —
    identical-tree, 6-dp floor-rounded.

    100 TB: reuses the measured Σ|basket|² edge build + two broadcast
    LPA rounds, both shared per-session with graph_label_propagation
    (operators/graph caches); the modularity pass adds one degree
    aggregate and one label-pair semi-join over edges — all node- or
    edge-sized."""
    e = brand_copurchase_edges(spark, sf_dir)
    l2 = lpa_labels(spark, sf_dir, 2)[1]  # com + win consumers
    m2df = e.agg(F.sum("w").alias("m2"))
    deg = e.groupBy("v").agg(F.sum("w").alias("deg"))
    com = (
        l2.join(deg, "v")
        .groupBy("label")
        .agg(F.count("*").alias("n_nodes"), F.sum("deg").alias("deg_sum"))
    )
    win = (
        e.join(F.broadcast(l2.select(F.col("v"), F.col("label").alias("la"))), "v")
        .join(
            F.broadcast(
                l2.select(F.col("v").alias("u"), F.col("label").alias("lb"))
            ),
            "u",
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.sum("w").alias("w_in_2"))
    )
    rows = (
        com.join(F.broadcast(win), "label", "left")
        .crossJoin(F.broadcast(m2df))
        .select(
            "label",
            "n_nodes",
            F.coalesce("w_in_2", F.lit(0)).alias("w_in_2"),
            "deg_sum",
            "m2",
            (
                F.coalesce("w_in_2", F.lit(0)) * F.col("m2")
                - F.col("deg_sum") * F.col("deg_sum")
            ).alias("q_num"),
        )
    )
    rows = rows.localCheckpoint(eager=False)  # rows + total consumers
    tot = rows.agg(F.sum("q_num").alias("q_num_tot"))
    one = F.lit(1.0)
    return (
        rows.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n_nodes",
            "w_in_2",
            "deg_sum",
            roundn(
                F.col("q_num") * one / (F.col("m2") * one * F.col("m2")), 6
            ).alias("q_contrib"),
            roundn(
                F.col("q_num_tot") * one / (F.col("m2") * one * F.col("m2")),
                6,
            ).alias("q_total"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# degree assortativity (r4f wave)
# ---------------------------------------------------------------------------


def _assort_oracle() -> str:
    return f"""
    WITH {supplier_graph_sql()},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY u),
    ed AS (
        SELECT da.deg AS du, db.deg AS dv
        FROM bb
        JOIN deg da ON da.u = bb.sa
        JOIN deg db ON db.u = bb.sb),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(du * dv) AS BIGINT) AS s1,
               CAST(SUM(du + dv) AS BIGINT) AS s2,
               CAST(SUM(du * du + dv * dv) AS BIGINT) AS s3
        FROM ed)
    SELECT m, s1, s2, s3,
           {sql_roundn(
               "(4 * m * s1 - s2 * s2) * 1.0e0"
               " / NULLIF(2 * m * s3 - s2 * s2, 0)", 6
           )} AS assortativity
    FROM s
    """


@query("graph_assortativity", oracle=_assort_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the supplier backbone — Newman's r: the
    Pearson correlation of endpoint degrees across edges, reduced to
    the EXACT INTEGER form r = (4M·Σdudv − (Σ(du+dv))²) /
    (2M·Σ(du²+dv²) − (Σ(du+dv))²) — positive: hubs link to hubs
    (social/resilient), negative: hub-and-spoke (star topologies,
    fragile to hub loss). Completes the graph metrology beside
    modularity (partition quality) and triangles (local density); a
    star graph scores exactly −1 (tested), a regular graph has zero
    degree variance and returns NULL (pinned).

    Exactness: degrees, M, and all three sums are exact int64 (bounded
    by K·n backbone degrees), so numerator and denominator are exact
    integers — ONE division total, NULLIF-guarded.

    100 TB: degrees are one aggregate over the ≤K·n backbone; the
    edge-degree join broadcasts the node-sized degree table; the
    moment sums are a single map-side-combined pass; the backbone is
    built once per session (operators/graph caches)."""
    bb = supplier_backbone(spark, sf_dir)
    deg = (
        supplier_graph(spark, sf_dir)
        .groupBy("u")
        .agg(F.count("*").alias("deg"))
    )
    ed = bb.join(
        F.broadcast(deg.select(F.col("u").alias("sa"), F.col("deg").alias("du"))),
        "sa",
    ).join(
        F.broadcast(deg.select(F.col("u").alias("sb"), F.col("deg").alias("dv"))),
        "sb",
    )
    s = ed.agg(
        F.count("*").alias("m"),
        F.sum(F.col("du") * F.col("dv")).alias("s1"),
        F.sum(F.col("du") + F.col("dv")).alias("s2"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv")).alias(
            "s3"
        ),
    )
    num = 4 * F.col("m") * F.col("s1") - F.col("s2") * F.col("s2")
    den = 2 * F.col("m") * F.col("s3") - F.col("s2") * F.col("s2")
    return s.select(
        "m",
        "s1",
        "s2",
        "s3",
        roundn(
            num * F.lit(1.0) / F.nullif(den, F.lit(0)), 6
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities on the nation trade-flow digraph (r4l wave)
# ---------------------------------------------------------------------------

#: L1 normalization unit for the integer-score iterations (micro-units)
_HITS_U = 1_000_000


def _hits_oracle() -> str:
    u = _HITS_U

    def norm(name: str, raw: str, keycol: str) -> str:
        return f"""
    {name}t AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM {raw}),
    {name} AS (
        SELECT n.n_nationkey AS k,
               CAST(COALESCE((r * {u}) // NULLIF(t, 0), 0) AS BIGINT) AS v
        FROM nation n
        LEFT JOIN {raw} ON {raw}.{keycol} = n.n_nationkey
        CROSS JOIN {name}t)"""

    return f"""
    WITH e AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    a1r AS (SELECT dst, CAST(SUM({u} * w) AS BIGINT) AS r FROM e GROUP BY dst),
    {norm("a1", "a1r", "dst")},
    h1r AS (SELECT e.src, CAST(SUM(a1.v * e.w) AS BIGINT) AS r
            FROM e JOIN a1 ON a1.k = e.dst GROUP BY e.src),
    {norm("h1", "h1r", "src")},
    a2r AS (SELECT e.dst, CAST(SUM(h1.v * e.w) AS BIGINT) AS r
            FROM e JOIN h1 ON h1.k = e.src GROUP BY e.dst),
    {norm("a2", "a2r", "dst")},
    h2r AS (SELECT e.src, CAST(SUM(a2.v * e.w) AS BIGINT) AS r
            FROM e JOIN a2 ON a2.k = e.dst GROUP BY e.src),
    {norm("h2", "h2r", "src")}
    SELECT n.n_name,
           a2.v AS auth_micro, h2.v AS hub_micro,
           CAST(a2.v AS DOUBLE) / {u}.0e0 AS authority,
           CAST(h2.v AS DOUBLE) / {u}.0e0 AS hub
    FROM nation n
    JOIN a2 ON a2.k = n.n_nationkey
    JOIN h2 ON h2.k = n.n_nationkey
    ORDER BY n.n_name
    """


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family, directed rung — Kleinberg's HITS on the nation
    TRADE-FLOW digraph (edge customer-nation -> supplier-nation,
    weight = lineitems shipped along that flow; the other graph keys
    ride the UNDIRECTED co-shipment backbone, so hub/authority
    asymmetry is invisible to them).  Two full mutual-reinforcement
    iterations: authority <- sum of in-neighbor hub scores, hub <- sum
    of out-neighbor authority scores, L1-normalized each half-step —
    good hubs POINT AT good authorities (big importers vs big
    exporters here).

    Exactness: scores live as integer MICRO-UNITS end to end — each
    half-step is an exact int64 weighted sum over edges followed by
    one integer renormalization (r * 1e6) DIV total, so summation
    order can never move a result; the readout divides once to
    doubles (identical op both engines) and ships the raw micro
    integers beside it.  Bound check: v <= 1e6, sum(w) = |lineitem|,
    so r*1e6 <= |lineitem|*1e18/|lineitem| ... max numerator
    1e6 * |lineitem| * 1e6 = |lineitem|*1e12 < 2^63 up to ~7e6-row
    fact tables; beyond that swap the unit ladder to DECIMAL(38,0) —
    same shape.

    100 TB: ONE pass over the fact join (lineitem x orders x dims,
    the tpch_q7 shape) collapses everything to a <= 625-row edge
    relation (nation x nation), checkpointed once; all four
    half-steps and both normalizations act on that bounded relation
    with one-row total broadcasts.  Score state is O(|nations|)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    ).localCheckpoint(eager=False)  # 4 half-steps consume the edges
    nodes = nation.select(F.col("n_nationkey").alias("k"), "n_name")

    def half_step(score: DataFrame, inbound: bool) -> DataFrame:
        """One HITS half-step: weighted sum along edges + integer L1
        renormalization. ``score`` is (k, v) in micro-units."""
        if inbound:  # authority: sum hub scores of in-neighbors
            j = e.join(F.broadcast(score), e.src == score.k)
            grouped = j.groupBy(F.col("dst").alias("gk"))
        else:  # hub: sum authority scores of out-neighbors
            j = e.join(F.broadcast(score), e.dst == score.k)
            grouped = j.groupBy(F.col("src").alias("gk"))
        raw = grouped.agg(
            F.sum(F.col("v") * F.col("w")).cast("long").alias("r")
        )
        t = raw.agg(F.sum("r").cast("long").alias("t"))
        return (
            nodes.join(raw, nodes.k == raw.gk, "left")
            .crossJoin(F.broadcast(t))
            .select(
                nodes.k.alias("k"),
                F.coalesce(
                    F.expr(f"(r * {_HITS_U}) DIV nullif(t, 0)"), F.lit(0)
                )
                .cast("long")
                .alias("v"),
            )
        )

    h0 = nodes.select("k", F.lit(_HITS_U).cast("long").alias("v"))
    a1 = half_step(h0, inbound=True).localCheckpoint(eager=False)
    h1 = half_step(a1, inbound=False).localCheckpoint(eager=False)
    a2 = half_step(h1, inbound=True).localCheckpoint(eager=False)
    h2 = half_step(a2, inbound=False)
    return (
        nodes.join(a2.withColumnRenamed("v", "auth_micro"), "k")
        .join(h2.withColumnRenamed("v", "hub_micro"), "k")
        .select(
            "n_name",
            "auth_micro",
            "hub_micro",
            (F.col("auth_micro").cast("double") / F.lit(float(_HITS_U)))
            .alias("authority"),
            (F.col("hub_micro").cast("double") / F.lit(float(_HITS_U)))
            .alias("hub"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# personalized PageRank from a seed nation (r4p wave)
# ---------------------------------------------------------------------------

#: damping alpha = _PPR_A_NUM/_PPR_A_DEN restarts at the seed
_PPR_A_NUM, _PPR_A_DEN = 3, 20  # alpha = 0.15
_PPR_SEED = 0  # n_nationkey of the personalization seed
_PPR_U = 1_000_000
_PPR_ITERS = 3  # power iterations (the oracle unrolls p1..p3)


def _ppr_oracle() -> str:
    u, an, ad, seed = _PPR_U, _PPR_A_NUM, _PPR_A_DEN, _PPR_SEED

    def it(cur: str, nxt: str) -> str:
        return f"""
    {nxt}r AS (
        SELECT e.dst,
               CAST(SUM(({ad - an} * {cur}.v * e.w)
                        // ({ad} * o.out_w)) AS BIGINT) AS r
        FROM e
        JOIN {cur} ON {cur}.k = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst),
    {nxt} AS (
        SELECT n.n_nationkey AS k,
               CAST(COALESCE({nxt}r.r, 0)
                    + CASE WHEN n.n_nationkey = {seed}
                           THEN ({an} * {u}) // {ad} ELSE 0 END
                    AS BIGINT) AS v
        FROM nation n LEFT JOIN {nxt}r ON {nxt}r.dst = n.n_nationkey)"""

    return f"""
    WITH e AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
    p0 AS (
        SELECT n_nationkey AS k,
               CAST(CASE WHEN n_nationkey = {seed} THEN {u} ELSE 0 END
                    AS BIGINT) AS v
        FROM nation),
    {it("p0", "p1")},
    {it("p1", "p2")},
    {it("p2", "p3")}
    SELECT n.n_name, p3.v AS ppr_micro,
           CAST(p3.v AS DOUBLE) / {u}.0e0 AS ppr,
           n.n_nationkey = {seed} AS is_seed
    FROM nation n JOIN p3 ON p3.k = n.n_nationkey
    ORDER BY p3.v DESC, n.n_name
    """


@query("graph_ppr", oracle=_ppr_oracle())
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — PERSONALIZED PageRank from a seed nation over
    the directed trade-flow graph (the graph_hits edge relation):
    random walks restart at the SEED with probability alpha = 0.15
    instead of teleporting uniformly, so scores measure proximity TO
    THE SEED's outbound trade — the related-entities query behind
    "customers of nation X also buy from..." recommendations, which
    global PageRank (graph_pagerank) cannot answer.  Three unrolled
    power iterations: p' = alpha*e_seed + (1-alpha) * M^T p with M the
    out-weight-normalized transition matrix.

    Exactness: scores are integer micro-units; each edge's
    contribution is the integer ((ad-an)*v*w) DIV (ad*out_w) — exact
    int64 (bound: 17 * 1e6 * |lineitem| fits to ~5e11-row facts), so
    per-destination sums are order-free; the restart mass is the
    integer (an*u) DIV ad.  Floor division leaks < 1 micro-unit per
    edge per iteration — conservation to within |E| units, asserted
    in tests.

    100 TB: ONE fact pass builds the <= 625-row edge relation
    (checkpointed); the three iterations are joins on that bounded
    relation — score state is O(|nations|), never fact-sized."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    u, an, ad, seed = _PPR_U, _PPR_A_NUM, _PPR_A_DEN, _PPR_SEED
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
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    ).localCheckpoint(eager=False)  # 3 iterations + out-weights
    outw = e.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    nodes = nation.select(F.col("n_nationkey").alias("k"), "n_name")
    p = nodes.select(
        "k",
        F.when(F.col("k") == seed, F.lit(u))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v"),
    )

    def power_step(p: DataFrame, _r: int) -> DataFrame:
        contrib = (
            e.join(F.broadcast(p), e.src == p.k)
            .join(F.broadcast(outw), "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(f"({ad - an} * v * w) DIV ({ad} * out_w)")
                )
                .cast("long")
                .alias("r")
            )
        )
        return nodes.join(contrib, nodes.k == contrib.dst, "left").select(
            "k",
            (
                F.coalesce("r", F.lit(0))
                + F.when(F.col("k") == seed, F.lit((an * u) // ad)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("v"),
        )

    p = fixpoint(p, power_step, max_rounds=_PPR_ITERS, name="graph_ppr")
    return (
        nodes.join(p, "k")
        .select(
            "n_name",
            F.col("v").alias("ppr_micro"),
            (F.col("v").cast("double") / F.lit(float(u))).alias("ppr"),
            (F.col("k") == seed).alias("is_seed"),
        )
        .orderBy(F.desc("ppr_micro"), "n_name")
    )


# ---------------------------------------------------------------------------
# closeness / harmonic centrality on the sparsified trade graph (r4x wave)
# ---------------------------------------------------------------------------

#: hop horizon for the unrolled min-plus distance expansion
_CLOSE_H = 4

_CLOSE_U = 1_000_000


def _closeness_oracle() -> str:
    steps = []
    for i in range(2, _CLOSE_H + 1):
        steps.append(f"""
    d{i} AS (
        SELECT u, v, MIN(dist) AS dist FROM (
            SELECT u, v, dist FROM d{i-1}
            UNION ALL
            SELECT d{i-1}.u, g.v, d{i-1}.dist + 1
            FROM d{i-1} JOIN g ON g.u = d{i-1}.v
            WHERE g.v <> d{i-1}.u)
        GROUP BY u, v)""")
    return f"""
    WITH {trade_graph_sql()},
    d1 AS (SELECT u, v, 1 AS dist FROM g),{",".join(steps)},
    agg AS (
        SELECT u,
               CAST(COUNT(*) AS BIGINT) AS n_reachable,
               CAST(SUM(dist) AS BIGINT) AS sum_dist,
               CAST(SUM({_CLOSE_U} // dist) AS BIGINT) AS harmonic_micro
        FROM d{_CLOSE_H} GROUP BY u)
    SELECT n.n_name,
           COALESCE(a.n_reachable, 0) AS n_reachable,
           COALESCE(a.sum_dist, 0) AS sum_dist,
           FLOOR(CAST(a.n_reachable AS DOUBLE)
                 / CAST(NULLIF(a.sum_dist, 0) AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS closeness,
           COALESCE(a.harmonic_micro, 0) AS harmonic_micro,
           CAST(COALESCE(a.harmonic_micro, 0) AS DOUBLE) / 1000000.0e0
               AS harmonic
    FROM nation n LEFT JOIN agg a ON a.u = n.n_nationkey
    ORDER BY n.n_name
    """


@query("graph_closeness", oracle=_closeness_oracle())
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — closeness AND harmonic centrality on the
    sparsified nation trade graph: keep each nation's {k} strongest
    partners (the raw flow matrix is near-complete — distance 1
    everywhere — so centrality is only informative on the backbone),
    symmetrize, then run {h} unrolled min-plus expansions for exact
    all-pairs hop distances within the horizon.  Closeness =
    n_reachable / Σdist (classic, reachable-set form); harmonic =
    Σ 1/d — the disconnection-robust variant, carried as exact integer
    micro-units (1e6 DIV d per term, int64 sum — no float ever crosses
    node pairs).

    Exactness: edge weights, ranks, distances, and harmonic sums are
    all integer/lexicographic; closeness is ONE division quantized at
    1e-6.

    100 TB: one tpch_q7-shaped fact pass collapses to the <=625-row
    nation matrix; the top-{k} cut, symmetrization, and all {h}
    expansions act on that bounded relation (state <= |nations|^2),
    checkpointed per step so the plan stays shallow.  For graphs where
    all-pairs state is too wide, the per-seed BFS form
    (graph_bfs_khop) is the swap."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)

    def expand(d: DataFrame, _r: int) -> DataFrame:
        step = (  # g: <= 2k|nations| rows the planner cannot size
            d.alias("d")
            .join(F.broadcast(g.alias("g")), F.col("g.u") == F.col("d.v"))
            .filter(F.col("g.v") != F.col("d.u"))
            .select(
                F.col("d.u").alias("u"),
                F.col("g.v").alias("v"),
                (F.col("d.dist") + 1).alias("dist"),
            )
        )
        return d.unionByName(step).groupBy("u", "v").agg(
            F.min("dist").alias("dist")
        )

    d = g.select("u", "v", F.lit(1).alias("dist"))
    d = fixpoint(d, expand, max_rounds=_CLOSE_H - 1, name="graph_closeness")
    agg = d.groupBy("u").agg(
        F.count("*").cast("long").alias("n_reachable"),
        F.sum("dist").cast("long").alias("sum_dist"),
        F.sum(F.expr(f"{_CLOSE_U} DIV dist")).cast("long").alias(
            "harmonic_micro"
        ),
    )
    return (
        nation.join(agg, nation.n_nationkey == agg.u, "left")
        .select(
            "n_name",
            F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
            F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"),
            roundn(
                F.col("n_reachable").cast("double")
                / F.nullif(F.col("sum_dist"), F.lit(0)).cast("double"),
                6,
            ).alias("closeness"),
            F.coalesce("harmonic_micro", F.lit(0)).alias("harmonic_micro"),
            (
                F.coalesce("harmonic_micro", F.lit(0)).cast("double")
                / F.lit(float(_CLOSE_U))
            ).alias("harmonic"),
        )
        .orderBy("n_name")
    )


graph_closeness.__doc__ = graph_closeness.__doc__.format(
    k=TRADE_K, h=_CLOSE_H
)


# ---------------------------------------------------------------------------
# exact betweenness centrality on the sparsified trade graph (r5a wave)
# ---------------------------------------------------------------------------

_BTW_H = 4  # hop horizon
_BTW_U = 1_000_000


def _btw_counts_sql(materialize: bool = False) -> str:
    """The shortest-path counts of both betweenness oracles: ``c{i}``
    and ``m{i}`` (s, t, dist, cnt) for 1 < i <= _BTW_H, expanded from
    ``m1`` over ``g``; ``materialize`` marks each ``m{i}``
    MATERIALIZED."""
    m = " MATERIALIZED" if materialize else ""
    return ",".join(
        f"""
    c{i+1} AS (
        SELECT s, t, dist, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
            SELECT s, t, dist, cnt FROM m{i}
            UNION ALL
            SELECT f.s, g.v AS t, f.dist + 1 AS dist, f.cnt
            FROM m{i} f JOIN g ON g.u = f.t
            WHERE f.dist = {i} AND g.v <> f.s)
        GROUP BY s, t, dist),
    m{i+1} AS{m} (
        SELECT s, t, dist, cnt FROM (
            SELECT s, t, dist, cnt,
                   ROW_NUMBER() OVER (PARTITION BY s, t
                                      ORDER BY dist) AS rn
            FROM c{i+1}) WHERE rn = 1)"""
        for i in range(1, _BTW_H)
    )


def _betweenness_oracle() -> str:
    return f"""
    WITH {trade_graph_sql()},
    m1 AS (
        SELECT u AS s, v AS t, 1 AS dist, CAST(1 AS BIGINT) AS cnt
        FROM g),{_btw_counts_sql()},
    acc AS (
        SELECT sv.t AS v,
               CAST(SUM((sv.cnt * vt.cnt * {_BTW_U}) // st.cnt)
                    AS BIGINT) AS bc_micro
        FROM m{_BTW_H} sv
        JOIN m{_BTW_H} vt ON vt.s = sv.t
        JOIN m{_BTW_H} st ON st.s = sv.s AND st.t = vt.t
                         AND st.dist = sv.dist + vt.dist
        WHERE sv.s < vt.t
        GROUP BY sv.t),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation)
    SELECT n.n_name,
           COALESCE(a.bc_micro, 0) AS bc_micro,
           CAST(COALESCE(a.bc_micro, 0) AS DOUBLE) / {_BTW_U}.0e0
               AS betweenness,
           FLOOR(CAST(COALESCE(a.bc_micro, 0) AS DOUBLE) / {_BTW_U}.0e0
                 / (CAST((nn.n - 1) * (nn.n - 2) AS DOUBLE) / 2.0e0)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS betweenness_norm
    FROM nation n
    LEFT JOIN acc a ON a.v = n.n_nationkey
    CROSS JOIN nn
    ORDER BY n.n_name
    """


def _btw_forward(g: DataFrame, first: DataFrame, name: str) -> DataFrame:
    """Layered (s, t, dist, cnt = σ) expansion over ``g`` (u, v) from
    the one-hop paths ``first`` ⊆ ``g`` to the ``_BTW_H``-hop horizon:
    round r extends the dist = r+1 frontier by one hop, sums path
    counts per (s, t, dist) and keeps each pair's shortest layer —
    every kept entry is final (the BFS invariant)."""
    m = first.select(
        F.col("u").alias("s"),
        F.col("v").alias("t"),
        F.lit(1).alias("dist"),
        F.lit(1).cast("long").alias("cnt"),
    )

    def expand(m: DataFrame, r: int) -> DataFrame:
        frontier = m.filter(F.col("dist") == r + 1)
        cand = (
            frontier.alias("f")
            .join(g.alias("g"), F.col("g.u") == F.col("f.t"))
            .filter(F.col("g.v") != F.col("f.s"))
            .select(
                F.col("f.s").alias("s"),
                F.col("g.v").alias("t"),
                (F.col("f.dist") + 1).alias("dist"),
                F.col("f.cnt").alias("cnt"),
            )
        )
        merged = (
            m.unionByName(cand)
            .groupBy("s", "t", "dist")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        shortest = Window.partitionBy("s", "t").orderBy("dist")
        return (
            merged.withColumn("rn", F.row_number().over(shortest))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    return fixpoint(m, expand, max_rounds=_BTW_H - 1, name=name)


@query("graph_betweenness", oracle=_betweenness_oracle())
def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — EXACT betweenness centrality (Freeman/Brandes
    semantics) on the sparsified nation trade graph: propagate
    (distance, shortest-path count σ) by {h} frontier expansions —
    σ(s,v) = Σ σ(s,u) over predecessors u on shortest paths, the BFS
    layer recurrence — then accumulate, for every interior node v,
    Σ_(s<t) σ_sv·σ_vt/σ_st over pairs with d_sv + d_vt = d_st.  The
    "who brokers the flows" readout beside closeness ("who is near
    everything") and PageRank ("who is linked from everywhere").

    Exactness: distances and path counts are exact integers off the
    layered expansion (every frontier entry is final — the BFS
    invariant); each pair's contribution enters as the integer
    (σ_sv·σ_vt·1e6) DIV σ_st, so the per-node sum is exact int64 and
    order-free; normalization is one division quantized at 1e-6.

    100 TB: everything runs on the session-cached <=2k|nations|-row
    backbone (operators/graph.trade_sparse_graph — shared with
    graph_closeness, one fact pass per session); state <= |nations|²
    rows, the accumulation a bounded triple self-join.  For graphs
    where all-pairs state is too wide, Brandes' per-source dependency
    accumulation over sampled sources is the swap (same recurrence,
    source-partitioned)."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)
    m = _btw_forward(g, g, "graph_betweenness")
    sv, vt, st = m.alias("sv"), m.alias("vt"), m.alias("st")
    acc = (
        sv.join(vt, F.col("vt.s") == F.col("sv.t"))
        .join(
            st,
            (F.col("st.s") == F.col("sv.s"))
            & (F.col("st.t") == F.col("vt.t"))
            & (F.col("st.dist") == F.col("sv.dist") + F.col("vt.dist")),
        )
        .filter(F.col("sv.s") < F.col("vt.t"))
        .groupBy(F.col("sv.t").alias("v"))
        .agg(
            F.sum(
                F.expr(f"(sv.cnt * vt.cnt * {_BTW_U}) DIV st.cnt")
            )
            .cast("long")
            .alias("bc_micro")
        )
    )
    nn = nation.agg(F.count("*").cast("long").alias("n"))
    bc = F.coalesce("bc_micro", F.lit(0))
    return (
        nation.join(acc, nation.n_nationkey == acc.v, "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "n_name",
            bc.alias("bc_micro"),
            (bc.cast("double") / F.lit(float(_BTW_U))).alias("betweenness"),
            roundn(
                bc.cast("double")
                / F.lit(float(_BTW_U))
                / (((F.col("n") - 1) * (F.col("n") - 2)).cast("double") / F.lit(2.0)),
                6,
            ).alias("betweenness_norm"),
        )
        .orderBy("n_name")
    )


graph_betweenness.__doc__ = graph_betweenness.__doc__.format(h=_BTW_H)


# ---------------------------------------------------------------------------
# articulation nodes on the sparsified trade graph (r5n wave)
# ---------------------------------------------------------------------------

_ART_H = 12  # min-label propagation rounds (>= graph diameter)


def _articulation_oracle() -> str:
    steps = []
    for i in range(1, _ART_H + 1):
        steps.append(f"""
    l{i} AS MATERIALIZED (
        SELECT chain, v, MIN(lbl) AS lbl FROM (
            SELECT chain, v, lbl FROM l{i-1}
            UNION ALL
            SELECT p.chain, ge.v, p.lbl
            FROM l{i-1} p JOIN ge
              ON ge.chain = p.chain AND ge.u = p.v)
        GROUP BY chain, v)""")
    return f"""
    WITH {trade_graph_sql()},
    nodes AS (SELECT DISTINCT u AS v FROM g),
    chains AS (
        SELECT -1 AS chain
        UNION ALL SELECT v AS chain FROM nodes),
    st AS (
        SELECT c.chain, n.v FROM chains c CROSS JOIN nodes n
        WHERE n.v <> c.chain),
    ge AS MATERIALIZED (
        SELECT c.chain, g.u, g.v FROM chains c CROSS JOIN g
        WHERE g.u <> c.chain AND g.v <> c.chain),
    l0 AS MATERIALIZED (SELECT chain, v, v AS lbl FROM st),{",".join(steps)},
    comp AS (
        SELECT chain, CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_comp
        FROM l{_ART_H} GROUP BY chain),
    basef AS (SELECT n_comp FROM comp WHERE chain = -1)
    SELECT n.n_name,
           CASE WHEN c.n_comp IS NULL THEN NULL
                ELSE c.n_comp END AS comp_without,
           b.n_comp AS comp_full,
           CAST(COALESCE(c.n_comp > b.n_comp, FALSE) AS INT)
               AS is_articulation
    FROM nation n
    LEFT JOIN comp c ON c.chain = n.n_nationkey
    CROSS JOIN basef b
    ORDER BY n.n_name
    """


@query("graph_articulation", oracle=_articulation_oracle())
def graph_articulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — ARTICULATION nodes (single points of failure) on
    the sparsified trade graph: a nation is articulation iff deleting
    it increases the connected-component count among the remaining
    nations — the "whose outage partitions the network" review beside
    betweenness ("who brokers flows" — a high-betweenness node with a
    parallel path is NOT articulation).  All |V|+1 deletions evaluate
    in ONE tagged min-label propagation (chain id = deleted node, −1 =
    full graph), {h} rounds ≥ the sparsified diameter.

    Exactness: labels are integer node keys under MIN — lattice
    convergence, order-free; component counts exact DISTINCT.

    100 TB: runs on the session-cached backbone (one fact pass shared
    with closeness/betweenness); tagged state ≤ (|V|+1)·|V| rows,
    edges ≤ (|V|+1)·2K|V| — dimension-bounded.  For large graphs the
    per-deletion sweep is replaced by one DFS (Tarjan low-links) over
    the same backbone in a single mapPartitions pass — this relational
    form is the bounded-dim variant."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)
    nodes = g.select(F.col("u").alias("v")).distinct()
    chains = (
        spark.range(1)
        .select(F.lit(-1).cast("long").alias("chain"))
        .unionByName(nodes.select(F.col("v").cast("long").alias("chain")))
    )
    chains = chains.localCheckpoint(eager=False)
    st = chains.crossJoin(nodes).filter(F.col("v") != F.col("chain"))
    ge = chains.crossJoin(g).filter(
        (F.col("u") != F.col("chain")) & (F.col("v") != F.col("chain"))
    )
    st = st.localCheckpoint(eager=False)
    ge = ge.localCheckpoint(eager=False)
    # POINTER-DOUBLING closure (r8 verdict's suggested cut): square the
    # tagged reachability relation ⌈log2(_ART_H)⌉ times instead of
    # propagating labels _ART_H times — paths ≤ 2^4 = 16 ≥ the 12-round
    # horizon the oracle (and the old plan) converge within, so the
    # per-chain min-reachable label is the identical component minimum.
    # Plan: 12 join+agg rounds (24 exchanges) → 4 join+distinct rounds
    # (8) + one final min.  State stays (chains)·|V|² dimension-bounded.
    # NOTE (r9 ADVICE): this labels each vertex with the min vertex it
    # can REACH, while the old loop (and the oracle) label with the min
    # vertex that reaches IT — equivalent ONLY because the tagged edge
    # relation `ge` is SYMMETRIZED (trade_sparse_graph is undirected).
    # Reusing this pattern on a directed relation would silently
    # diverge; keep the reach-direction flip tied to symmetric edges.
    reach = (
        st.select("chain", F.col("v").alias("a"), F.col("v").alias("b"))
        .unionByName(
            ge.select("chain", F.col("u").alias("a"), F.col("v").alias("b"))
        )
        .distinct()
    )

    def square(reach: DataFrame, _r: int) -> DataFrame:
        hop = (
            reach.alias("r1")
            .join(
                reach.alias("r2"),
                (F.col("r2.chain") == F.col("r1.chain"))
                & (F.col("r2.a") == F.col("r1.b")),
            )
            .select(
                F.col("r1.chain").alias("chain"),
                F.col("r1.a").alias("a"),
                F.col("r2.b").alias("b"),
            )
        )
        return reach.unionByName(hop).distinct()

    rounds = max(1, (_ART_H - 1).bit_length())  # 2^rounds >= _ART_H
    reach = fixpoint(reach, square, max_rounds=rounds, name="graph_articulation")
    lbl = reach.groupBy("chain", F.col("a").alias("v")).agg(
        F.min("b").alias("lbl")
    )
    comp = lbl.groupBy("chain").agg(
        F.countDistinct("lbl").cast("long").alias("n_comp")
    )
    comp = comp.localCheckpoint(eager=False)
    base = comp.filter(F.col("chain") == -1).select(
        F.col("n_comp").alias("comp_full")
    )
    return (
        nation.join(F.broadcast(comp), nation.n_nationkey == comp.chain, "left")
        .crossJoin(F.broadcast(base))
        .select(
            "n_name",
            F.col("n_comp").alias("comp_without"),
            "comp_full",
            F.coalesce(
                (F.col("n_comp") > F.col("comp_full")).cast("int"), F.lit(0)
            ).alias("is_articulation"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# strongly connected components on the directed trade digraph (r5w wave)
# ---------------------------------------------------------------------------

#: closure-by-squaring rounds: paths up to 2^5 = 32 > |nations| cover
#: every simple path in the 25-node digraph
_SCC_ROUNDS = 5


def _scc_oracle() -> str:
    return f"""
    WITH RECURSIVE {trade_digraph_sql()},
    reach(u, v) AS (
        SELECT n_nationkey, n_nationkey FROM nation
        UNION
        SELECT r.u, e.dst FROM reach r JOIN e ON e.src = r.v),
    pair AS (
        SELECT r1.u, r1.v
        FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u),
    scc AS (SELECT u, CAST(MIN(v) AS BIGINT) AS scc_id
            FROM pair GROUP BY u),
    sz AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
           FROM scc GROUP BY scc_id)
    SELECT n.n_name AS nation, s.scc_id, z.scc_size,
           z.scc_size > 1 AS in_cycle
    FROM scc s
    JOIN sz z ON z.scc_id = s.scc_id
    JOIN nation n ON n.n_nationkey = s.u
    ORDER BY nation
    """


@query("graph_scc", oracle=_scc_oracle())
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — STRONGLY CONNECTED COMPONENTS on the DIRECTED
    sparsified trade digraph (each nation's {k} strongest OUTGOING
    flows — direction matters: u selling to v is not v selling to u,
    and the undirected keys' symmetrization would merge what the
    condensation keeps apart).  SCC id = min nation reachable in BOTH
    directions; mutual reachability comes from the transitive closure
    built by {r} closure-by-squaring rounds (R ← R∘R over R₀ = I ∪ E:
    paths ≤ 2^{r} = 32 cover the 25-node domain), the parallel-friendly
    alternative to Tarjan's inherently sequential stack.

    The oracle is a genuinely DIFFERENT algorithm — a recursive-CTE
    fixpoint closure — so the hash match cross-verifies the squaring
    construction, not a shared code path.

    Exactness: everything is integer set algebra (keys, distinct
    unions, MIN labels) — no floats exist.

    100 TB: the one fact pass collapses to the ≤ 625-row flow matrix
    before ranking (map-side partial agg); closure/squaring runs on
    the |V|²-bounded dimension table.  For wide graphs the same
    doubling works on (hash-bucketed) adjacency with the closure
    replaced by forward-backward reachability from pivots.

    Reference parity: the reference's DAG is itself a digraph whose
    cycle-freedom Airflow asserts (dags/pipeline_orchestration_dag.py
    task graph); SCC is that assertion's general form — any SCC of
    size > 1 IS a cycle.
    """
    nation = load_table(spark, sf_dir, "nation")
    scc = scc_labels(spark, sf_dir, rounds=_SCC_ROUNDS)
    sz = scc.groupBy("scc_id").agg(
        F.count("*").cast("long").alias("scc_size")
    )
    return (
        scc.join(sz, "scc_id")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            scc.u == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "scc_id",
            "scc_size",
            (F.col("scc_size") > 1).alias("in_cycle"),
        )
        .orderBy("nation")
    )


graph_scc.__doc__ = graph_scc.__doc__.format(k=TRADE_K, r=_SCC_ROUNDS)


# ---------------------------------------------------------------------------
# condensation DAG of the trade digraph (r5y wave)
# ---------------------------------------------------------------------------


def _condensation_oracle() -> str:
    return f"""
    WITH RECURSIVE {trade_digraph_sql()},
    reach(u, v) AS (
        SELECT n_nationkey, n_nationkey FROM nation
        UNION
        SELECT r.u, e.dst FROM reach r JOIN e ON e.src = r.v),
    scc AS (
        SELECT r1.u, CAST(MIN(r1.v) AS BIGINT) AS scc_id
        FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
        GROUP BY r1.u),
    sz AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
           FROM scc GROUP BY scc_id),
    ce AS (
        SELECT DISTINCT l1.scc_id AS src, l2.scc_id AS dst
        FROM e
        JOIN scc l1 ON l1.u = e.src
        JOIN scc l2 ON l2.u = e.dst
        WHERE l1.scc_id <> l2.scc_id),
    lp(dst, len) AS (
        SELECT dst, 1 FROM ce
        UNION ALL
        SELECT ce.dst, lp.len + 1 FROM lp JOIN ce ON ce.src = lp.dst),
    lvl AS (SELECT dst AS scc_id, CAST(MAX(len) AS BIGINT) AS topo_level
            FROM lp GROUP BY dst),
    outd AS (SELECT src AS scc_id, CAST(COUNT(*) AS BIGINT) AS out_degree
             FROM ce GROUP BY src),
    ind AS (SELECT dst AS scc_id, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM ce GROUP BY dst)
    SELECT z.scc_id, z.scc_size,
           COALESCE(i.in_degree, 0) AS in_degree,
           COALESCE(o.out_degree, 0) AS out_degree,
           COALESCE(v.topo_level, 0) AS topo_level,
           COALESCE(i.in_degree, 0) = 0 AS is_source,
           COALESCE(o.out_degree, 0) = 0 AS is_sink
    FROM sz z
    LEFT JOIN ind i ON i.scc_id = z.scc_id
    LEFT JOIN outd o ON o.scc_id = z.scc_id
    LEFT JOIN lvl v ON v.scc_id = z.scc_id
    ORDER BY z.scc_id
    """


@query("graph_condensation", oracle=_condensation_oracle())
def graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — the CONDENSATION DAG: contract every SCC of the
    directed trade digraph to one super-node (sharing `graph_scc`'s
    session-cached labels — ONE closure build serves both keys, the
    supplier_backbone ownership contract) and study the acyclic
    quotient: per component its size, in/out degree, longest-path
    topological LEVEL (the stage at which a cascading shock reaches
    it), and source/sink flags.  The condensation is the structure
    that makes cycle-bearing digraphs schedulable — exactly what an
    orchestrator computes before assigning execution waves
    (`ops_dag_critical_path`'s general-graph sibling: that key assumes
    a DAG, this one MAKES one).

    Longest-path levels come from max-plus closure-by-squaring on the
    component graph (Spark) vs a recursive-CTE path extension
    (DuckDB) — two different algorithms certified equal by the hash;
    both terminate because the condensation is provably acyclic.

    Exactness: integer set algebra throughout — no floats exist.

    100 TB: the heavy lifting (fact scan → flow matrix → closure) is
    the cached SCC build; everything here runs on the ≤ |V| component
    table and its ≤ |E| quotient edges.

    Reference parity: Airflow renders exactly this view of the
    reference's task graph (dags/pipeline_orchestration_dag.py) —
    levels are its execution waves.
    """
    labels = scc_labels(spark, sf_dir, rounds=_SCC_ROUNDS)
    g = trade_sparse_digraph(spark, sf_dir)
    sz = labels.groupBy("scc_id").agg(
        F.count("*").cast("long").alias("scc_size")
    )
    l1 = labels.select(
        F.col("u").alias("src_u"), F.col("scc_id").alias("csrc")
    )
    l2 = labels.select(
        F.col("u").alias("dst_u"), F.col("scc_id").alias("cdst")
    )
    ce = (
        g.join(F.broadcast(l1), g.src == F.col("src_u"))
        .join(F.broadcast(l2), g.dst == F.col("dst_u"))
        .where(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)  # degrees + longest-path consumers
    )
    # longest path via max-plus squaring: 5 rounds cover 2^5 > |SCCs|
    lp = ce.select("src", "dst", F.lit(1).cast("long").alias("len"))
    lp = lp.localCheckpoint(eager=False)

    def square(lp: DataFrame, _r: int) -> DataFrame:
        ext = (
            lp.alias("a")
            .join(lp.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.len") + F.col("b.len")).alias("len"),
            )
        )
        return (
            lp.unionByName(ext)
            .groupBy("src", "dst")
            .agg(F.max("len").cast("long").alias("len"))
        )

    lp = fixpoint(lp, square, max_rounds=_SCC_ROUNDS, name="graph_condensation")
    lvl = lp.groupBy("dst").agg(
        F.max("len").cast("long").alias("topo_level")
    ).withColumnRenamed("dst", "scc_id")
    outd = ce.groupBy("src").agg(
        F.count("*").cast("long").alias("out_degree")
    ).withColumnRenamed("src", "scc_id")
    ind = ce.groupBy("dst").agg(
        F.count("*").cast("long").alias("in_degree")
    ).withColumnRenamed("dst", "scc_id")
    return (
        sz.join(F.broadcast(ind), "scc_id", "left")
        .join(F.broadcast(outd), "scc_id", "left")
        .join(F.broadcast(lvl), "scc_id", "left")
        .select(
            "scc_id",
            "scc_size",
            F.coalesce("in_degree", F.lit(0)).cast("long").alias(
                "in_degree"
            ),
            F.coalesce("out_degree", F.lit(0)).cast("long").alias(
                "out_degree"
            ),
            F.coalesce("topo_level", F.lit(0)).cast("long").alias(
                "topo_level"
            ),
            (F.coalesce("in_degree", F.lit(0)) == 0).alias("is_source"),
            (F.coalesce("out_degree", F.lit(0)) == 0).alias("is_sink"),
        )
        .orderBy("scc_id")
    )


# ---------------------------------------------------------------------------
# deterministic random-walk corpus (r6e wave)
# ---------------------------------------------------------------------------

#: walks per start node and steps per walk
_WALK_W = 4
_WALK_L = 8


def _walk_oracle() -> str:
    steps = []
    for s in range(1, _WALK_L + 1):
        steps.append(f"""
    w{s} AS (
        SELECT w.walk_id, w.start_n, w.path, w.cur,
               CASE WHEN a.dsts IS NULL THEN NULL
                    ELSE a.dsts[CAST(CAST('0x' || SUBSTR(md5(
                             'walk:' || CAST(w.walk_id AS VARCHAR)
                             || ':' || CAST(w.cur AS VARCHAR)
                             || ':' || CAST({s} AS VARCHAR)), 1, 4)
                             AS BIGINT) % len(a.dsts) + 1 AS INT)]
               END AS nxt
        FROM s{s-1} w LEFT JOIN adj a ON a.src = w.cur),
    s{s} AS (
        SELECT walk_id, start_n,
               CASE WHEN nxt IS NULL THEN path
                    ELSE path || '-' || CAST(nxt AS VARCHAR) END AS path,
               COALESCE(nxt, cur) AS cur
        FROM w{s})""")
    return f"""
    WITH {trade_digraph_sql()},
    adj AS (
        SELECT src, list(dst ORDER BY dst) AS dsts FROM e GROUP BY src),
    s0 AS (
        SELECT n.n_nationkey * {_WALK_W} + g.i AS walk_id,
               n.n_nationkey AS start_n,
               CAST(n.n_nationkey AS VARCHAR) AS path,
               n.n_nationkey AS cur
        FROM nation n
        CROSS JOIN (SELECT UNNEST(range(0, {_WALK_W})) AS i) g),{",".join(steps)}
    SELECT s.walk_id, s.start_n, s.path,
           CAST(len(string_split(s.path, '-')) - 1 AS BIGINT) AS n_steps,
           CAST(len(list_distinct(string_split(s.path, '-'))) AS BIGINT)
               AS n_distinct
    FROM s{_WALK_L} s
    ORDER BY s.walk_id
    """


@query("graph_walk_corpus", oracle=_walk_oracle())
def graph_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — DETERMINISTIC RANDOM-WALK CORPUS (the DeepWalk /
    node2vec sampling stage): {w} walks of {l} steps from every nation
    over the sparsified trade digraph, each transition chosen by a
    salted md5 coin over the node's dst-sorted out-edge list — the
    replayable substitute for RNG sampling that makes a 100 TB walk
    corpus reproducible across retries and backfills (the
    `split_train_test` discipline applied to graph sampling).  Walks
    stop early at sinks (NULL out-list).  The emitted paths ARE the
    training sentences a skip-gram embedder consumes; the distinct
    count per walk is the usual mixing diagnostic.

    Exactness: transitions are pure integer arithmetic on md5 bytes
    and list indices; paths are deterministic strings.

    100 TB: the adjacency collapses to |V| rows (broadcast); each of
    the {l} unrolled steps is one narrow join against it — walk state
    is (walk, cur) sized, never edge-sized.  For wide graphs the same
    unrolled join runs hash-partitioned on cur with the adjacency
    bucketed.
    """
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_digraph(spark, sf_dir)
    adj = g.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("dsts")
    )
    walks = nation.select(
        F.explode(F.sequence(F.lit(0), F.lit(_WALK_W - 1))).alias("i"),
        F.col("n_nationkey"),
    ).select(
        (F.col("n_nationkey") * _WALK_W + F.col("i"))
        .cast("long")
        .alias("walk_id"),
        F.col("n_nationkey").alias("start_n"),
        F.col("n_nationkey").cast("string").alias("path"),
        F.col("n_nationkey").alias("cur"),
    )
    for s in range(1, _WALK_L + 1):
        coin = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("walk:"),
                        F.col("walk_id").cast("string"),
                        F.lit(":"),
                        F.col("cur").cast("string"),
                        F.lit(":"),
                        F.lit(str(s)),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        walks = (
            walks.join(F.broadcast(adj), walks.cur == adj.src, "left")
            .select(
                "walk_id",
                "start_n",
                "path",
                "cur",
                F.when(
                    F.col("dsts").isNull(), F.lit(None).cast("long")
                )
                .otherwise(
                    F.element_at(
                        F.col("dsts"),
                        (coin % F.size("dsts") + 1).cast("int"),
                    )
                )
                .alias("nxt"),
            )
            .select(
                "walk_id",
                "start_n",
                F.when(F.col("nxt").isNull(), F.col("path"))
                .otherwise(
                    F.concat(
                        F.col("path"),
                        F.lit("-"),
                        F.col("nxt").cast("string"),
                    )
                )
                .alias("path"),
                F.coalesce("nxt", "cur").alias("cur"),
            )
        )
    return walks.select(
        "walk_id",
        "start_n",
        "path",
        (F.size(F.split("path", "-")) - 1).cast("long").alias("n_steps"),
        F.size(F.array_distinct(F.split("path", "-")))
        .cast("long")
        .alias("n_distinct"),
    ).orderBy("walk_id")


# ---------------------------------------------------------------------------
# directed 3-node motif census (r6h wave)
# ---------------------------------------------------------------------------


def _motifs_oracle() -> str:
    return f"""
    WITH {trade_digraph_sql()},
    paths AS (
        SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        FROM e ab JOIN e bc ON bc.src = ab.dst
        WHERE ab.src <> bc.dst),
    closed AS (
        SELECT p.a, p.b, p.c,
               CASE WHEN f.src IS NOT NULL THEN 1 ELSE 0 END AS ffl,
               CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS cyc
        FROM paths p
        LEFT JOIN e f ON f.src = p.a AND f.dst = p.c
        LEFT JOIN e r ON r.src = p.c AND r.dst = p.a)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_two_paths,
           CAST(SUM(ffl) AS BIGINT) AS n_ffl,
           CAST(SUM(cyc) // 3 AS BIGINT) AS n_cycles,
           CAST((SUM(ffl) * 1000000) // COUNT(*) AS BIGINT)
               AS ffl_closure_ppm,
           CAST((SUM(cyc) * 1000000) // COUNT(*) AS BIGINT)
               AS cycle_closure_ppm
    FROM closed
    """


@query("graph_motifs_directed", oracle=_motifs_oracle())
def graph_motifs_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — DIRECTED 3-NODE MOTIF CENSUS on the trade
    digraph: count open 2-paths A→B→C and classify their closures —
    FEED-FORWARD loops (A→C also present: the hierarchy/shortcut motif
    that dominates regulatory and supply networks) vs 3-CYCLES (C→A:
    circular flow; each cycle closes all three of its 2-paths, hence
    the ÷3) — plus the two closure rates, the DIRECTED analogue of
    `graph_triangles`' undirected clustering coefficient
    (Milo et al. 2002's motif-census method).

    Exactness: pure integer counts and one ppm DIV each.

    100 TB: the 2-path join and both existence probes are equi-joins
    on the |V|-bounded sparsified edge list; the fact pass is the
    shared flow-matrix collapse.
    """
    e = trade_sparse_digraph(spark, sf_dir)
    ab, bc = e.alias("ab"), e.alias("bc")
    paths = (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .where(F.col("ab.src") != F.col("bc.dst"))
        .select(
            F.col("ab.src").alias("a"),
            F.col("ab.dst").alias("b"),
            F.col("bc.dst").alias("c"),
        )
    )
    fwd = e.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.lit(1).alias("ffl"),
    )
    rev = e.select(
        F.col("dst").alias("a"), F.col("src").alias("c"),
        F.lit(1).alias("cyc"),
    )
    closed = (
        paths.join(F.broadcast(fwd), ["a", "c"], "left")
        .join(F.broadcast(rev), ["a", "c"], "left")
        .select(
            F.coalesce("ffl", F.lit(0)).alias("ffl"),
            F.coalesce("cyc", F.lit(0)).alias("cyc"),
        )
    )
    return closed.agg(
        F.count("*").cast("long").alias("n_two_paths"),
        F.sum("ffl").cast("long").alias("n_ffl"),
        F.expr("CAST(SUM(cyc) DIV 3 AS BIGINT)").alias("n_cycles"),
        F.expr(
            "CAST((SUM(ffl) * 1000000) DIV COUNT(*) AS BIGINT)"
        ).alias("ffl_closure_ppm"),
        F.expr(
            "CAST((SUM(cyc) * 1000000) DIV COUNT(*) AS BIGINT)"
        ).alias("cycle_closure_ppm"),
    )


# ---------------------------------------------------------------------------
# graph_betweenness_sampled — per-source Brandes, the wide-graph swap
# (r5f wave)
# ---------------------------------------------------------------------------

#: deterministic source sample: graph nodes with id % mod == 0
_BTWS_MOD = 5


def _btw_sampled_oracle(mod: int = _BTWS_MOD) -> str:
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, and the backward dl-chain references the forward
    # m-chain repeatedly — measured 110 s -> 0.3 s at sf0.01
    back = []
    for i in range(_BTW_H - 1, 0, -1):
        dep = (
            f"LEFT JOIN dl{i+1} d ON d.s = mv.s AND d.v = g.v"
            if i < _BTW_H - 1
            else ""
        )
        dval = "COALESCE(d.delta, 0)" if i < _BTW_H - 1 else "0"
        back.append(f"""
    dl{i} AS MATERIALIZED (
        SELECT mv.s, mv.t AS v,
               CAST(SUM((mv.cnt * ({_BTW_U} + {dval})) // mw.cnt)
                    AS BIGINT) AS delta
        FROM m{_BTW_H} mv
        JOIN g ON g.u = mv.t
        JOIN m{_BTW_H} mw ON mw.s = mv.s AND mw.t = g.v
                         AND mw.dist = {i + 1}
        {dep}
        WHERE mv.dist = {i}
        GROUP BY 1, 2)""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM dl{i}" for i in range(1, _BTW_H)
    )
    return f"""
    WITH {trade_graph_sql(materialize_g=True)},
    m1 AS MATERIALIZED (
        SELECT u AS s, v AS t, 1 AS dist, CAST(1 AS BIGINT) AS cnt
        FROM g WHERE u % {mod} = 0),{_btw_counts_sql(materialize=True)},{",".join(back)},
    alln AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes FROM g),
    ns AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_srcs
           FROM g WHERE u % {mod} = 0),
    accs AS (
        SELECT v, CAST(SUM(delta) AS BIGINT) AS d_micro
        FROM ({unions}) GROUP BY v)
    SELECT n.n_name,
           CAST(ns.n_srcs AS BIGINT) AS n_sources,
           COALESCE(a.d_micro, 0) AS bc_micro_sampled,
           FLOOR(CAST(COALESCE(a.d_micro, 0) AS DOUBLE)
                 * CAST(alln.n_nodes AS DOUBLE)
                 / (CAST(ns.n_srcs AS DOUBLE) * 2.0e0 * {_BTW_U}.0e0)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS bc_est
    FROM nation n
    LEFT JOIN accs a ON a.v = n.n_nationkey
    CROSS JOIN alln CROSS JOIN ns
    ORDER BY n.n_name
    """


def _btw_sampled_frame(
    spark: SparkSession, sf_dir: str, mod: int
) -> DataFrame:
    """The sampled-Brandes plan parameterized by the source-sample
    modulus — mod=1 (all sources) is the law-test arm that must agree
    with the all-pairs graph_betweenness up to micro-unit truncation."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)
    g = g.localCheckpoint(eager=False)  # forward layers + backward sweeps
    # forward (dist, sigma) restricted to sampled sources: state is
    # |S|x|V| rows, the per-source partitioning that scales where the
    # all-pairs |V|^2 state cannot
    m = _btw_forward(g, g.filter(F.col("u") % mod == 0), "graph_betweenness_sampled")

    # backward dependency accumulation (Brandes): for v at layer i,
    # delta(v) = sum over shortest-path-DAG successors w at layer i+1 of
    # (sigma_sv / sigma_sw) * (1 + delta(w)), carried in micro-units
    # with integer DIV (deterministic identical truncation both engines)
    deltas: list[DataFrame] = []
    prev: DataFrame | None = None
    for i in range(_BTW_H - 1, 0, -1):
        mv = m.filter(F.col("dist") == i).alias("mv")
        mw = m.filter(F.col("dist") == i + 1).select(
            F.col("s").alias("ws"),
            F.col("t").alias("wt"),
            F.col("cnt").alias("wcnt"),
        )
        j = mv.join(g.alias("ge"), F.col("ge.u") == F.col("mv.t")).join(
            mw,
            (F.col("ws") == F.col("mv.s")) & (F.col("wt") == F.col("ge.v")),
        )
        if prev is not None:
            j = j.join(
                prev.select(
                    F.col("s").alias("ds"),
                    F.col("v").alias("dv"),
                    F.col("delta").alias("dprev"),
                ),
                (F.col("ds") == F.col("mv.s"))
                & (F.col("dv") == F.col("ge.v")),
                "left",
            )
            dval = F.coalesce(F.col("dprev"), F.lit(0))
        else:
            dval = F.lit(0)
        lvl = (
            j.select(
                F.col("mv.s").alias("s"),
                F.col("mv.t").alias("v"),
                (F.col("mv.cnt") * (F.lit(_BTW_U) + dval)).alias("num"),
                F.col("wcnt"),
            )
            .select("s", "v", F.expr("num DIV wcnt").alias("c"))
            .groupBy("s", "v")
            .agg(F.sum("c").cast("long").alias("delta"))
        )
        lvl = lvl.localCheckpoint(eager=False)  # next layer + final union
        deltas.append(lvl)
        prev = lvl

    acc = deltas[0]
    for d in deltas[1:]:
        acc = acc.unionByName(d)
    accs = acc.groupBy("v").agg(
        F.sum("delta").cast("long").alias("d_micro")
    )
    nodes = g.select(F.col("u").alias("node")).distinct()
    nodes = nodes.localCheckpoint(eager=False)  # totals + sample counts
    alln = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    ns = nodes.filter(F.col("node") % mod == 0).agg(
        F.count("*").cast("long").alias("n_srcs")
    )
    return (
        nation.join(accs, nation.n_nationkey == accs.v, "left")
        .crossJoin(F.broadcast(alln))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_name",
            F.col("n_srcs").cast("long").alias("n_sources"),
            F.coalesce(F.col("d_micro"), F.lit(0))
            .cast("long")
            .alias("bc_micro_sampled"),
            roundn(
                F.coalesce(F.col("d_micro"), F.lit(0)).cast("double")
                * F.col("n_nodes").cast("double")
                / (
                    F.col("n_srcs").cast("double")
                    * F.lit(2.0)
                    * F.lit(float(_BTW_U))
                ),
                6,
            ).alias("bc_est"),
        )
        .orderBy("n_name")
    )


@query("graph_betweenness_sampled", oracle=_btw_sampled_oracle())
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — SAMPLED-SOURCE BRANDES betweenness, the wide-graph
    swap graph_betweenness documents: forward (dist, σ) BFS state is
    built ONLY for the deterministic source sample (nodes ≡ 0 mod
    {mod} — |S|·|V| rows, the per-source partitioning that scales
    where all-pairs |V|² state cannot), and each source's dependency
    δ_s(v) = Σ_w (σ_sv/σ_sw)(1+δ_s(w)) accumulates BACKWARD down the
    shortest-path DAG layer by layer — Brandes' algorithm itself,
    relationally, with every layer a bounded join.  The estimator
    bc ≈ Σ_{{s∈S}} δ_s(v) · |V| / (2|S|) is the standard unbiased
    source-sampled form (Brandes-Pich); with mod=1 it IS full Brandes
    and the law test pins agreement with the pair-form
    graph_betweenness to micro-unit truncation.

    Exactness: σ are exact integers; δ carries in micro-units with
    integer DIV at each (v,w) edge — the truncation is deterministic
    and IDENTICAL on both engines (hash-exact), and bounded by one
    micro-unit per DAG edge per layer; the estimate divides once at
    projection.

    100 TB: per-source state shards on s (embarrassingly parallel
    across sources); each backward layer is an equi-join of
    layer-filtered relations against the backbone; nothing holds more
    than one layer of one source's DAG in a task.
    """
    return _btw_sampled_frame(spark, sf_dir, _BTWS_MOD)


graph_betweenness_sampled.__doc__ = graph_betweenness_sampled.__doc__.format(
    mod=_BTWS_MOD
)


# ---------------------------------------------------------------------------
# Tarjan low-link articulation — the wide-graph swap (r6 wave)
# ---------------------------------------------------------------------------


def _tarjan_cut_counts(pdf):
    """One iterative Hopcroft–Tarjan DFS over the whole (dimension-
    bounded) backbone: per node the number of parts its deletion leaves
    IN ITS COMPONENT (root: #DFS-children; non-root: #children subtrees
    with low ≥ disc, +1 for the parent side), from which
    comp_without = comp_full − 1 + parts — the identical verdict set
    the |V|+1-deletion sweep produces, in ONE edge pass."""
    import collections

    import pandas as pd

    adj = collections.defaultdict(set)
    for a, b in zip(pdf["u"], pdf["v"]):
        a, b = int(a), int(b)
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    nodes = sorted(adj)
    disc: dict[int, int] = {}
    low: dict[int, int] = {}
    cut = {v: 0 for v in nodes}  # severed child subtrees per non-root
    roots: dict[int, int] = {}  # DFS root -> #children
    t = 0
    for root in nodes:
        if root in disc:
            continue
        roots[root] = 0
        disc[root] = low[root] = t
        t += 1
        stack = [(root, None, iter(sorted(adj[root])))]
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue  # the one tree edge back (simple graph)
                if w not in disc:
                    disc[w] = low[w] = t
                    t += 1
                    if v == root:
                        roots[root] += 1
                    stack.append((w, v, iter(sorted(adj[w]))))
                    advanced = True
                    break
                if disc[w] < low[v]:
                    low[v] = disc[w]  # back edge
            if not advanced:
                stack.pop()
                if stack:
                    pv = stack[-1][0]
                    if low[v] < low[pv]:
                        low[pv] = low[v]
                    if pv != root and low[v] >= disc[pv]:
                        cut[pv] += 1
    n_comp = len(roots)
    rows = [
        (
            v,
            n_comp - 1 + (roots[v] if v in roots else cut[v] + 1),
            n_comp,
        )
        for v in nodes
    ]
    return pd.DataFrame(rows, columns=["v", "comp_without", "comp_full"])


@query("graph_articulation_tarjan", oracle=_articulation_oracle())
def graph_articulation_tarjan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — ARTICULATION nodes via TARJAN LOW-LINKS: the
    wide-graph swap `graph_articulation`'s docstring names, delivered
    as a key (r5 verdict task #3).  Instead of the |V|+1-deletion
    tagged min-label sweep (state (|V|+1)·|V|, edges (|V|+1)·2K|V|),
    ONE iterative DFS computes disc/low per node and counts, for each
    node, the parts its deletion leaves — per-round cost ∝ EDGES, run
    once.  comp_without = comp_full − 1 + parts reproduces the
    deletion sweep's exact verdict set, so the key shares
    `graph_articulation`'s all-deletions oracle verbatim: the hash
    match cross-verifies two genuinely different algorithms.

    Exactness: everything is integer (DFS order, low-links, component
    counts) — no floats exist.

    100 TB: the sparsified backbone is the session-cached ≤2K|V|
    relation (one fact pass, shared with closeness/betweenness); DFS
    runs where the backbone is SMALL ENOUGH to sit in one task — the
    correct physical strategy for a dimension-bounded graph (shipping
    ≤2K|V| rows to one executor beats |V| synchronized shuffle
    rounds).  For backbones too wide for one task, the relational
    sweep (`graph_articulation`) is the fallback — the two keys are
    the two sides of that size cutoff, stated as code."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)
    res = (
        g.groupBy(F.lit(1).alias("grp"))
        .applyInPandas(
            _tarjan_cut_counts,
            "v long, comp_without long, comp_full long",
        )
        .localCheckpoint(eager=False)  # joined twice below
    )
    base = res.select(F.col("comp_full").alias("cf")).limit(1)
    return (
        nation.join(
            res.select("v", "comp_without"),
            nation.n_nationkey == F.col("v"),
            "left",
        )
        .crossJoin(F.broadcast(base))
        .select(
            "n_name",
            "comp_without",
            F.col("cf").alias("comp_full"),
            F.coalesce(
                (F.col("comp_without") > F.col("cf")).cast("int"), F.lit(0)
            ).alias("is_articulation"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# FW-BW pivot SCC — the wide-digraph swap (r6 wave)
# ---------------------------------------------------------------------------

#: FW-BW round caps over ≤ |nation| = 25 nodes: a BFS has ≤ 24 non-empty
#: frontiers plus the empty one, and each level (trim round + pivot
#: round) retires at least its pivot
_FWBW_MAX_HOPS = 25
_FWBW_MAX_ROUNDS = 2 * 25


def _fwbw_reach(live: DataFrame, pivots: DataFrame, ed: DataFrame) -> DataFrame:
    """Tagged forward+backward BFS from each part's pivot, both
    directions in ONE frontier loop: ``ed`` carries dir∈{1 fwd, 2 bwd}
    orientations of the digraph; reach rows are (part, dir, v, hop),
    restricted to the part's ``live`` node set, and the frontier is the
    last round's ``hop``.  Rounds ≤ the part diameter + 1; the per-round
    convergence test is one emptiness probe on the new frontier (a
    bounded scalar, never data).  Every join broadcasts its bounded
    side, so each hop is one exchange-free stage (at wide-graph scale
    the frontier is the broadcast side and the edge relation stays
    partitioned in place)."""
    seeds = pivots.select(
        "part",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("dir"),
        F.col("pv").alias("v"),
        F.lit(0).alias("hop"),
    ).coalesce(1)

    def hop(reach: DataFrame, r: int) -> DataFrame:
        frontier = reach.filter(F.col("hop") == r)
        nxt = (
            ed.join(
                F.broadcast(frontier),
                (F.col("v") == ed.f) & (frontier.dir == ed.dir),
            )
            .select("part", frontier.dir.alias("dir"), ed.t.alias("v"))
            .distinct()
            .join(F.broadcast(live), ["part", "v"], "semi")
            .join(
                F.broadcast(reach.select("part", "dir", "v")),
                ["part", "dir", "v"],
                "left_anti",
            )
        )
        return reach.unionByName(nxt.withColumn("hop", F.lit(r + 1))).coalesce(1)

    return fixpoint(
        seeds,
        hop,
        max_rounds=_FWBW_MAX_HOPS,
        name="graph_scc_fwbw:reach",
        done=lambda reach, r: reach.filter(F.col("hop") == r + 1).isEmpty(),
    )


@query("graph_scc_fwbw", oracle=_scc_oracle())
def graph_scc_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family — SCC via FORWARD-BACKWARD-TRIM PIVOT PARTITIONING
    (Fleischer-Hendrickson-Pinar; Trim and the level-synchronous tagged
    form per Slota et al.), the wide-digraph swap `graph_scc`'s
    docstring names, delivered as a key (r5 verdict task #5).  Per
    level: TRIM first retires every node lacking an in- or out-edge
    within its part (a singleton SCC by definition — one pass clears
    all the leaves the previous level stranded); then each part's
    DETERMINISTIC pivot (min node) runs one tagged forward+backward
    BFS; F∩B IS the pivot's SCC (labeled by its min member —
    `graph_scc`'s exact id semantics); F∖S, B∖S and the untouched rest
    recurse as three NEW parts (part' = 4·part + tag).  The pivot
    always lands in its own SCC, so every level retires ≥1 node per
    part — recursion depth is bounded by the component count (near the
    component-tree height with Trim), and ALL parts of a level advance
    in the SAME tagged frames (no per-subproblem jobs).

    The oracle is `graph_scc`'s recursive-CTE transitive closure — a
    third algorithm family (closure vs squaring vs FW-BW), so the hash
    match cross-verifies the partition logic end to end; a law test
    additionally pins equality against the session-cached squaring
    labels.

    Exactness: keys, BFS sets and min labels are all integers.

    100 TB: this is THE production SCC shape for graphs too wide for
    |V|²-bounded closures — per-level state is (part, v) pairs (LINEAR
    in live nodes, where `graph_scc`'s closure holds |V|² pairs), each
    BFS hop one equi-join against the edge relation, and the tags keep
    every recursion branch in one shuffle.  Driver scalars are the
    per-level emptiness checks, bounded by recursion depth."""
    nation = load_table(spark, sf_dir, "nation")
    dg = trade_sparse_digraph(spark, sf_dir)
    ed = dg.select(
        F.lit(1).alias("dir"), F.col("src").alias("f"), F.col("dst").alias("t")
    ).unionByName(
        dg.select(
            F.lit(2).alias("dir"), F.col("dst").alias("f"), F.col("src").alias("t")
        )
    ).localCheckpoint(eager=False)
    # state: one row per nation (part, v, scc_id); scc_id is NULL while
    # v is live and set once v retires into its SCC
    state = (
        nation.select(F.col("n_nationkey").cast("long").alias("v"))
        .withColumn("part", F.lit(0).cast("long"))
        .withColumn("scc_id", F.lit(None).cast("long"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )

    def level(state: DataFrame, r: int) -> DataFrame:
        live = state.filter(F.col("scc_id").isNull()).select("part", "v")
        if r % 2 == 0:
            # TRIM (the FW-BW-Trim variant): a node lacking an in-edge or
            # an out-edge WITHIN its part is a singleton SCC — retire it
            # now.  One pass retires every leaf the previous level
            # stranded, which is what keeps the recursion depth near the
            # component-tree height instead of the component count.
            dirs = (
                ed.join(F.broadcast(live.withColumnRenamed("v", "f")), "f")
                .join(
                    F.broadcast(live.withColumnRenamed("v", "t")),
                    ["part", "t"],
                    "semi",
                )
                .groupBy("part", F.col("f").alias("v"))
                .agg(F.count_distinct("dir").alias("nd"))
            )
            trimmed = F.coalesce("nd", F.lit(0)) < 2
            return (
                state.join(F.broadcast(dirs), ["part", "v"], "left")
                .select(
                    "part",
                    "v",
                    F.coalesce("scc_id", F.when(trimmed, F.col("v"))).alias("scc_id"),
                )
                .coalesce(1)
            )
        # PIVOT: F∩B of each part's min node is its SCC, labeled by that
        # node; F∖S, B∖S and the untouched rest become parts
        # 4·part + side for side = 1, 2, 3 (side = Σ dir over F and B)
        pivots = (
            live.groupBy("part")
            .agg(F.min("v").alias("pv"))
            .coalesce(1)
            .localCheckpoint(eager=False)
        )
        side = (
            _fwbw_reach(live, pivots, ed)
            .groupBy("part", "v")
            .agg(F.sum("dir").alias("side"))
        )
        in_scc = F.col("side") == 3
        return (
            state.join(F.broadcast(side), ["part", "v"], "left")
            .join(F.broadcast(pivots), "part", "left")
            .select(  # a retired row's part is never read again
                F.when(
                    F.col("scc_id").isNull(),
                    F.col("part") * 4 + F.coalesce("side", F.lit(3)),
                )
                .otherwise(F.col("part"))
                .cast("long")
                .alias("part"),
                "v",
                F.coalesce("scc_id", F.when(in_scc, F.col("pv"))).alias("scc_id"),
            )
            .coalesce(1)
        )

    done = fixpoint(
        state,
        level,
        max_rounds=_FWBW_MAX_ROUNDS,
        name="graph_scc_fwbw",
        done=lambda st, _r: st.filter(F.col("scc_id").isNull()).isEmpty(),
    ).select("v", "scc_id")
    sz = done.groupBy("scc_id").agg(
        F.count("*").cast("long").alias("scc_size")
    )
    return (
        done.join(sz, "scc_id")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            done.v == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "scc_id",
            "scc_size",
            (F.col("scc_size") > 1).alias("in_cycle"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# convergence-looped min-label propagation with fixpoint evidence (r6 wave)
# ---------------------------------------------------------------------------

#: round cap: a label crosses ≤ 24 hops in a ≤ |nation| = 25-node
#: component, plus the one round that changes nothing
_LPC_MAX_ROUNDS = 25


def _lpa_converged_oracle() -> str:
    return f"""
    WITH RECURSIVE {trade_graph_sql()},
    nodes AS (SELECT DISTINCT u AS v FROM g),
    reach(u, v) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r2.u, g.v FROM reach r2 JOIN g ON g.u = r2.v),
    comp AS (
        SELECT u AS v, CAST(MIN(v) AS BIGINT) AS community
        FROM reach GROUP BY u),
    srcs AS (SELECT DISTINCT community AS s FROM comp),
    bfs(s, v, d) AS (
        SELECT s, s, 0 FROM srcs
        UNION
        SELECT b.s, g.v, b.d + 1 FROM bfs b JOIN g ON g.u = b.v
        WHERE b.d < 40),
    mind AS (
        SELECT s, v, CAST(MIN(d) AS BIGINT) AS dist
        FROM bfs GROUP BY s, v),
    rounds AS (
        SELECT c.community,
               CAST(MAX(m.dist) AS BIGINT) AS rounds_to_convergence
        FROM comp c
        JOIN mind m ON m.s = c.community AND m.v = c.v
        GROUP BY c.community),
    sz AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM comp GROUP BY community)
    SELECT n.n_name AS nation, c.community, z.community_size,
           rd.rounds_to_convergence
    FROM comp c
    JOIN sz z USING (community)
    JOIN rounds rd USING (community)
    JOIN nation n ON n.n_nationkey = c.v
    ORDER BY nation
    """


@query("graph_label_propagation_converged", oracle=_lpa_converged_oracle())
def graph_label_propagation_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graph family — min-label propagation RUN TO CONVERGENCE, with
    the fixpoint itself as evidence (r5 verdict task #7): unlike the
    fixed-iteration demonstrations (LPA 2 iters, k-means 2, power
    iteration 2), this is the production shape — labels propagate
    until a round changes NOTHING (a :func:`catalog.fixpoint` loop: one
    emptiness probe per round, capped at ``_LPC_MAX_ROUNDS``), and
    ``rounds_to_convergence`` is an OUTPUT column: per
    community, the round its last member settled, which equals the
    max BFS distance from the community's min node — exactly what the
    oracle recomputes from scratch with recursive-CTE BFS, so the
    hash match verifies the convergence loop's round accounting, not
    just its final labels.

    Exactness: labels are integer node keys under MIN — lattice
    convergence (order-free, no oscillation: min-label LPA is a
    semilattice fold, unlike modal LPA); rounds are exact integers.

    100 TB: per round ONE equi-join of the label relation against the
    session-cached backbone + a min-rollup — per-round state is node-
    sized, the plan census shape; rounds ≤ backbone diameter; the
    driver holds one scalar per round.  The same loop IS
    connected-components (dedup_clusters' engine) — here instrumented
    to emit its own convergence certificate."""
    nation = load_table(spark, sf_dir, "nation")
    g = trade_sparse_graph(spark, sf_dir)
    lbl = (
        g.select(F.col("u").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lbl"), F.lit(0).alias("chg"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )

    def propagate(lbl: DataFrame, r: int) -> DataFrame:
        prop = (
            g.join(
                F.broadcast(
                    lbl.select(F.col("v").alias("u"), F.col("lbl").alias("nl"))
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.min("nl").alias("nl"))
        )
        new_lbl = F.least("lbl", F.coalesce("nl", F.col("lbl")))
        return (
            lbl.join(F.broadcast(prop), "v", "left")
            .select(
                "v",
                new_lbl.alias("lbl"),
                F.when(new_lbl < F.col("lbl"), r + 1).otherwise(F.col("chg")).alias("chg"),
            )
            .coalesce(1)
        )

    lbl = fixpoint(
        lbl,
        propagate,
        max_rounds=_LPC_MAX_ROUNDS,
        name="graph_label_propagation_converged",
        done=lambda lbl, r: lbl.filter(F.col("chg") == r + 1).isEmpty(),
    )
    rounds = lbl.groupBy("lbl").agg(
        F.max("chg").cast("long").alias("rounds_to_convergence"),
        F.count("*").cast("long").alias("community_size"),
    )
    return (
        lbl.join(F.broadcast(rounds), "lbl")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            lbl.v == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("lbl").cast("long").alias("community"),
            "community_size",
            "rounds_to_convergence",
        )
        .orderBy("nation")
    )
