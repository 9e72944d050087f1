"""Round-9 wave: graph centrality/cohesion, ranking evals, survival
inference, and blocked string similarity.

* ``graph_katz`` — Katz centrality on the supplier co-shipment
  backbone (attenuation-weighted path counting; the damped-walk
  sibling of graph_pagerank that keeps β=1 sources).
* ``graph_local_clustering`` — per-node clustering coefficient
  (triangles / wedges), the node-grain refinement of graph_triangles.
* ``eval_rbo`` — rank-biased overlap between two top-k rankings
  (Webber et al. 2010): the top-weighted comparison metric for
  indefinite rankings where Kendall/Spearman need full permutations.
* ``recsys_map_at_k`` — MAP@10 of the train-window popularity
  recommender against held-out test purchases (date split).
* ``survival_logrank`` — two-group log-rank test over the
  time-to-first-purchase curves (Mantel 1966).
* ``survival_nelson_aalen`` — Nelson–Aalen cumulative hazard, the
  additive sibling of survival_kaplan_meier.
* ``fn_jaro_winkler`` — blocked Jaro–Winkler name matching: an
  Arrow-vectorized Python implementation differentially verified
  against DuckDB's independent native jaro_winkler_similarity.

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc)
contains no analytics engine; formulas are public (Katz 1953;
Watts–Strogatz clustering; Webber et al. 2010 RBO; Mantel 1966
log-rank; Nelson 1972 / Aalen 1978; Winkler 1990).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.graph import (
    supplier_backbone,
    supplier_backbone_sql,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: the supplier co-shipment kNN backbone CTEs (operators/graph
#: .supplier_backbone's oracle twin)
_BB_SQL = f"""
    {supplier_backbone_sql()}
"""


# ---------------------------------------------------------------------------
# graph_katz
# ---------------------------------------------------------------------------

_KATZ_ALPHA = 0.05
_KATZ_ITERS = 6


def _katz_oracle() -> str:
    steps = []
    for i in range(1, _KATZ_ITERS + 1):
        steps.append(f"""
    x{i} AS (
        SELECT nodes.node,
               1000000000 + CAST(FLOOR({_KATZ_ALPHA}e0
                   * COALESCE(inc.s, 0) + 0.5e0) AS BIGINT) AS x
        FROM nodes
        LEFT JOIN (SELECT und.v, CAST(SUM(x{i-1}.x) AS BIGINT) AS s
                   FROM und JOIN x{i-1} ON x{i-1}.node = und.u
                   GROUP BY und.v) inc
          ON inc.v = nodes.node)""")
    return f"""
    WITH {_BB_SQL},
    und AS (
        SELECT sa AS u, sb AS v FROM bb
        UNION ALL SELECT sb, sa FROM bb),
    nodes AS (SELECT DISTINCT u AS node FROM und),
    x0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS x FROM nodes)
    {"," + ",".join(steps)}
    SELECT node AS suppkey,
           {sql_roundn(f"x{_KATZ_ITERS}.x / 1000000000.0e0", 6)} AS katz
    FROM x{_KATZ_ITERS}
    ORDER BY suppkey
    """


@query("graph_katz", oracle=_katz_oracle())
def graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — KATZ CENTRALITY on the supplier co-shipment
    backbone: x ← 1 + α·A·x iterated K = 6 times at α = 0.05
    (attenuation-weighted count of walks ending at each node) — the
    β-source sibling of graph_pagerank: pagerank redistributes a fixed
    mass, Katz lets every node emit, so peripheral nodes keep nonzero
    scores and hub adjacency is rewarded geometrically. α is safely
    below 1/λ_max for a degree-≤2K backbone, so the truncated series
    is near-converged at K = 6.

    Exactness: iterates live in integer NANO units; each step's
    neighbor sum is an exact int64 and the single α·S+0.5 floor is the
    only float op per (node, step) — both engines run the identical
    sequence, so every iterate is bit-identical.

    100 TB: K sparse propagation rounds over a ≤2K·|V| edge list —
    the graph_pagerank cost class (one shuffle per round, no
    all-pairs anywhere)."""
    bb = supplier_backbone(spark, sf_dir)
    und = bb.select(
        F.col("sa").alias("u"), F.col("sb").alias("v")
    ).unionAll(bb.select(F.col("sb").alias("u"), F.col("sa").alias("v")))
    und = und.localCheckpoint(eager=False)  # K propagation rounds
    nodes = und.select(F.col("u").alias("node")).distinct()

    def katz_step(x: DataFrame, _r: int) -> DataFrame:
        inc = (
            und.join(F.broadcast(x), und.u == x.node)
            .groupBy("v")
            .agg(F.sum("x").cast("long").alias("s"))
        )
        return nodes.join(inc, nodes.node == inc.v, "left").select(
            "node",
            (
                F.lit(1_000_000_000)
                + F.floor(
                    F.lit(_KATZ_ALPHA) * F.coalesce(F.col("s"), F.lit(0))
                    + F.lit(0.5)
                ).cast("long")
            ).alias("x"),
        )

    x = fixpoint(
        nodes.select("node", F.lit(1_000_000_000).cast("long").alias("x")),
        katz_step,
        max_rounds=_KATZ_ITERS,
        name="graph_katz",
    )
    return x.select(
        F.col("node").alias("suppkey"),
        roundn(F.col("x") / F.lit(1.0e9), 6).alias("katz"),
    ).orderBy("suppkey")


# ---------------------------------------------------------------------------
# graph_local_clustering
# ---------------------------------------------------------------------------


def _lcc_oracle() -> str:
    return f"""
    WITH {_BB_SQL},
    tri AS (
        SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
        FROM bb e1
        JOIN bb e2 ON e1.sb = e2.sa
        JOIN bb e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
    tn AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY 1),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT sa AS node FROM bb UNION ALL SELECT sb FROM bb)
        GROUP BY 1)
    SELECT deg.node AS suppkey, deg.degree,
           COALESCE(tn.n_tri, 0) AS n_triangles,
           {sql_roundn(
               "CASE WHEN deg.degree >= 2 THEN 2.0e0"
               " * COALESCE(tn.n_tri, 0)"
               " / (deg.degree * 1.0e0 * (deg.degree - 1.0e0))"
               " ELSE 0.0e0 END", 6)} AS clustering_coeff
    FROM deg LEFT JOIN tn ON tn.node = deg.node
    ORDER BY suppkey
    """


@query("graph_local_clustering", oracle=_lcc_oracle())
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — per-node LOCAL CLUSTERING COEFFICIENT on the
    supplier backbone: c(v) = 2·T(v)/(deg(v)·(deg(v)−1)) — how close
    each node's neighborhood is to a clique (Watts–Strogatz). The
    node-grain refinement of graph_triangles' global count: the two
    keys share the triangle enumeration, this one attributes each
    triangle to its three corners.

    Exactness: triangle and degree counts are exact ints; one
    documented double expression per node.

    100 TB: the a<b<c ordered triangle join touches each backbone
    wedge once; the backbone's top-K cut bounds wedges by K²·|V| —
    linear in nodes, never quadratic in suppliers."""
    bb = supplier_backbone(spark, sf_dir)
    bb = bb.localCheckpoint(eager=False)  # three join sides + degrees
    e1, e2, e3 = bb.alias("e1"), bb.alias("e2"), bb.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.sb") == F.col("e2.sa"))
        .join(
            e3,
            (F.col("e3.sa") == F.col("e1.sa"))
            & (F.col("e3.sb") == F.col("e2.sb")),
        )
        .select(
            F.col("e1.sa").alias("a"),
            F.col("e1.sb").alias("b"),
            F.col("e2.sb").alias("c"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        bb.select(F.explode(F.array("sa", "sb")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0)
        * F.coalesce(F.col("n_tri"), F.lit(0))
        / (F.col("degree") * F.lit(1.0) * (F.col("degree") - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias("suppkey"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            roundn(coeff, 6).alias("clustering_coeff"),
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# eval_rbo
# ---------------------------------------------------------------------------

_RBO_P = 0.9
_RBO_D = 20

#: tail weights T_m = Σ_{k=m..d} (1−p)·p^(k−1)/k in integer NANOS —
#: python-computed literals shared by BOTH engines (the _NDCG_W
#: discipline: transcendentals never cross the engine boundary), so a
#: matched pair first co-present at depth m contributes the exact
#: integer T_m and RBO is an order-free int sum
_RBO_TAILS = tuple(
    int(
        round(
            1e9
            * sum(
                (1 - _RBO_P) * _RBO_P ** (k - 1) / k
                for k in range(m, _RBO_D + 1)
            )
        )
    )
    for m in range(1, _RBO_D + 1)
)


def _rbo_oracle() -> str:
    t_case = " ".join(
        f"WHEN {m + 1} THEN {t}" for m, t in enumerate(_RBO_TAILS)
    )
    return f"""
    WITH ra AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS pa
        FROM documents QUALIFY pa <= {_RBO_D}),
    rb AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY len(string_split(text, ' ')) DESC, doc_id ASC)
                   AS pb
        FROM documents QUALIFY pb <= {_RBO_D}),
    common AS (
        SELECT GREATEST(ra.pa, rb.pb) AS m
        FROM ra JOIN rb USING (doc_id)),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
               COALESCE(CAST(SUM(CASE m {t_case} END) AS BIGINT), 0)
                   AS rbo_nanos
        FROM common)
    SELECT {_RBO_D} AS depth,
           {_RBO_P}e0 AS p,
           n_common,
           {sql_roundn("rbo_nanos / 1000000000.0e0", 6)} AS rbo
    FROM s
    """


@query("eval_rbo", oracle=_rbo_oracle())
def eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — RANK-BIASED OVERLAP (Webber et al. 2010) between
    two top-20 document rankings (by character length vs by token
    count): RBO@d = Σ_{{k≤d}} (1−p)p^{{k−1}}·|A_k∩B_k|/k with p = 0.9
    — the top-weighted, truncation-tolerant comparison for indefinite
    rankings, where Kendall/Spearman demand full conjoint permutations
    (the metric used to compare retrieval rankers, autocomplete lists,
    recsys slates).

    Exactness: a pair co-present from depth m contributes the exact
    precomputed tail weight T_m = Σ_{{k≥m}}(1−p)p^{{k−1}}/k — shared
    9-dp integer literals in both engines (the _NDCG_W discipline), so
    RBO is an order-free integer sum.

    100 TB: both top-20 cuts are TakeOrderedAndProject (no global
    sort); the overlap join is 20×20."""
    docs = load_table(spark, sf_dir, "documents")
    ra = (
        docs.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .alias("pa"),
        )
        .filter(F.col("pa") <= _RBO_D)
    )
    rb = (
        docs.select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.desc(F.size(F.split("text", " "))), F.asc("doc_id")
                )
            )
            .alias("pb"),
        )
        .filter(F.col("pb") <= _RBO_D)
    )
    t_map = F.create_map(
        *[
            x
            for m, t in enumerate(_RBO_TAILS)
            for x in (F.lit(m + 1), F.lit(t))
        ]
    )
    common = ra.join(rb, "doc_id").select(
        F.greatest("pa", "pb").alias("m")
    )
    s = common.agg(
        F.count("*").cast("long").alias("n_common"),
        F.coalesce(F.sum(t_map[F.col("m")]).cast("long"), F.lit(0)).alias(
            "rbo_nanos"
        ),
    )
    return s.select(
        F.lit(_RBO_D).alias("depth"),
        F.lit(_RBO_P).alias("p"),
        "n_common",
        roundn(F.col("rbo_nanos") / F.lit(1.0e9), 6).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# recsys_map_at_k
# ---------------------------------------------------------------------------

_MAP_K = 10
_MAP_SPLIT = "1999-01-01"


def _map_oracle() -> str:
    return f"""
    WITH tx AS (
        SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
               o.o_orderdate AS d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    pop AS (
        SELECT partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tx WHERE d < TIMESTAMP '{_MAP_SPLIT}'
        GROUP BY 1),
    recs AS (
        SELECT partkey,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, partkey ASC) AS pos
        FROM pop QUALIFY pos <= {_MAP_K}),
    truth AS (
        SELECT DISTINCT custkey, partkey
        FROM tx WHERE d >= TIMESTAMP '{_MAP_SPLIT}'),
    rsize AS (
        SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM truth GROUP BY 1),
    hits AS (
        SELECT t.custkey, r.pos,
               SUM(1) OVER (PARTITION BY t.custkey ORDER BY r.pos
                   ROWS UNBOUNDED PRECEDING) AS n_hits_at
        FROM truth t JOIN recs r ON r.partkey = t.partkey),
    ap AS (
        SELECT rsize.custkey,
               COALESCE(CAST(FLOOR(SUM(h.n_hits_at * 1.0e0 / h.pos)
                   / LEAST({_MAP_K}, rsize.n_rel)
                   * 1000000000.0e0 + 0.5e0) AS BIGINT), 0) AS ap_nanos,
               CASE WHEN COUNT(h.pos) > 0 THEN 1 ELSE 0 END AS hit
        FROM rsize LEFT JOIN hits h ON h.custkey = rsize.custkey
        GROUP BY rsize.custkey, rsize.n_rel)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           {_MAP_K} AS k,
           {sql_roundn(
               "SUM(ap_nanos) / 1000000000.0e0 / COUNT(*)", 6)} AS map_at_k,
           {sql_roundn("SUM(hit) * 1.0e0 / COUNT(*)", 6)} AS hit_rate_at_k
    FROM ap
    """


@query("recsys_map_at_k", oracle=_map_oracle())
def recsys_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recsys eval tier — MAP@10 of the train-window POPULARITY
    recommender under a temporal split (train < {split} ≤ test):
    AP@k = Σᵢ rel(i)·P(i) / min(k, |R_u|) per test-active customer,
    averaged — the position-sensitive companion to recsys_hit_rate
    (which leave-last-out-retrains per user and is evidence-tier; this
    is the serving-shape temporal-split eval every recsys change gets
    judged on first). The popularity baseline is the MANDATORY
    control: a personalized model that can't beat it at MAP@10 is
    noise.

    Exactness: the rec list and truth sets are exact; per-user AP
    quantizes once to nano units and the mean is an order-free int
    sum over users.

    100 TB: recommendations are a k-row broadcast
    (TakeOrderedAndProject over train popularity); the per-user
    windows run over ≤ k joined rows; one user-grain aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    tx = li.join(
        F.broadcast(
            orders.select("o_orderkey", "o_custkey", "o_orderdate")
        ),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("o_orderdate").alias("d"),
    )
    tx = tx.localCheckpoint(eager=False)  # train + test slices
    split = F.lit(_MAP_SPLIT).cast("timestamp")
    pop = (
        tx.filter(F.col("d") < split)
        .groupBy("partkey")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    recs = (
        pop.orderBy(F.desc("cnt"), F.asc("partkey"))
        .limit(_MAP_K)
        .select(
            "partkey",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("partkey")))
            .alias("pos"),
        )
    )
    truth = tx.filter(F.col("d") >= split).select(
        "custkey", "partkey"
    ).distinct()
    truth = truth.localCheckpoint(eager=False)  # sizes + hits
    rsize = truth.groupBy("custkey").agg(
        F.count("*").cast("long").alias("n_rel")
    )
    wc = Window.partitionBy("custkey").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hits = truth.join(F.broadcast(recs), "partkey").select(
        "custkey", "pos", F.sum(F.lit(1)).over(wc).alias("n_hits_at")
    )
    ap = (
        rsize.join(hits, "custkey", "left")
        .groupBy("custkey", "n_rel")
        .agg(
            F.coalesce(
                F.floor(
                    F.sum(
                        F.col("n_hits_at") * F.lit(1.0) / F.col("pos")
                    )
                    / F.least(F.lit(_MAP_K), F.col("n_rel"))
                    * F.lit(1.0e9)
                    + F.lit(0.5)
                ).cast("long"),
                F.lit(0),
            ).alias("ap_nanos"),
            F.when(F.count("pos") > 0, 1).otherwise(0).alias("hit"),
        )
    )
    return ap.agg(
        F.count("*").cast("long").alias("n_users"),
        F.lit(_MAP_K).alias("k"),
        roundn(
            F.sum("ap_nanos") / F.lit(1.0e9) / F.count("*"), 6
        ).alias("map_at_k"),
        roundn(F.sum("hit") * F.lit(1.0) / F.count("*"), 6).alias(
            "hit_rate_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# survival_logrank + survival_nelson_aalen (KM's observation scheme)
# ---------------------------------------------------------------------------

_SURV_H = 72  # administrative censoring horizon, hours (stats2 KM)

_SURV_OBS_SQL = f"""
    u AS (
        SELECT user_id, MIN(ts) AS f,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp,
               MIN(CASE WHEN ts = fmin THEN event_type END) AS dummy
        FROM (SELECT *, MIN(ts) OVER (PARTITION BY user_id) AS fmin
              FROM events) ev
        GROUP BY 1),
    grp AS (
        SELECT user_id, f, fp,
               CASE WHEN dummy = 'click' THEN 1 ELSE 2 END AS g
        FROM u),
    obs AS (
        SELECT g,
               CASE WHEN fp IS NOT NULL
                         AND CAST(FLOOR(date_diff('second', f, fp)
                             / 3600.0e0) AS BIGINT) <= {_SURV_H}
                    THEN CAST(FLOOR(date_diff('second', f, fp) / 3600.0e0)
                         AS BIGINT)
                    ELSE {_SURV_H} END AS t,
               (fp IS NOT NULL
                AND CAST(FLOOR(date_diff('second', f, fp) / 3600.0e0)
                    AS BIGINT) <= {_SURV_H}) AS observed
        FROM grp)
"""


def _surv_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, t, observed): group by first event type, KM's time scheme."""
    ev = load_table(spark, sf_dir, "events")
    fmin = ev.withColumn(
        "fmin", F.min("ts").over(Window.partitionBy("user_id"))
    )
    u = fmin.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp"),
        F.min(
            F.when(F.col("ts") == F.col("fmin"), F.col("event_type"))
        ).alias("dummy"),
    )
    g = F.when(F.col("dummy") == "click", 1).otherwise(2)
    sec = F.unix_timestamp("fp") - F.unix_timestamp("f")
    t_raw = F.floor(sec / F.lit(3600.0)).cast("long")
    ok = F.col("fp").isNotNull() & (t_raw <= _SURV_H)
    return u.select(
        g.alias("g"),
        F.when(ok, t_raw).otherwise(F.lit(_SURV_H)).alias("t"),
        ok.alias("observed"),
    )


def _logrank_oracle() -> str:
    return f"""
    WITH {_SURV_OBS_SQL},
    by_t AS (
        SELECT t,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1_all,
               CAST(SUM(CASE WHEN g = 1 AND observed THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1
        FROM obs GROUP BY 1),
    risk AS (
        SELECT t, d, d1,
               SUM(n_all) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
               SUM(n1_all) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
        FROM by_t),
    terms AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(CAST(FLOOR(d * 1.0e0 * n1 / n
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT)
                   AS e1q,
               CAST(SUM(CASE WHEN n > 1 THEN CAST(FLOOR(
                   d * (n1 * 1.0e0 / n) * (1.0e0 - n1 * 1.0e0 / n)
                   * (n - d) / (n - 1.0e0)
                   * 1000000000.0e0 + 0.5e0) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS vq
        FROM risk WHERE d > 0),
    sizes AS (
        SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1_users,
               CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2_users
        FROM obs)
    SELECT sizes.n1_users, sizes.n2_users,
           terms.o1 AS observed_1,
           {sql_roundn("terms.e1q / 1000000000.0e0", 6)} AS expected_1,
           {sql_roundn("terms.vq / 1000000000.0e0", 6)} AS var_logrank,
           {sql_roundn(
               "(terms.o1 - terms.e1q / 1000000000.0e0)"
               " * (terms.o1 - terms.e1q / 1000000000.0e0)"
               " / (terms.vq / 1000000000.0e0)", 6)} AS chi2
    FROM terms CROSS JOIN sizes
    """


@query("survival_logrank", oracle=_logrank_oracle())
def survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival tier — two-group LOG-RANK test on time-to-first-
    purchase (group = whether the user's FIRST event was a click),
    under survival_kaplan_meier's observation scheme (hour grain,
    72 h administrative censoring): at each event time the group-1
    event count is compared to its hypergeometric expectation
    d·n₁/n, χ² = (O₁−E₁)²/V — the standard censoring-correct test
    that a naive mean/median comparison of conversion delays gets
    wrong (censored users carry information a t-test drops).

    Exactness: risk sets are exact integer descending cumulative sums
    over the ≤ horizon+1 event-time rows; each E and V term quantizes
    once to nano units and int-sums.

    100 TB: user-grain aggregate, then all state is horizon-bounded
    (≤ 73 rows)."""
    obs = _surv_obs(spark, sf_dir)
    obs = obs.localCheckpoint(eager=False)  # event table + group sizes
    by_t = obs.groupBy("t").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1_all"),
        F.sum(F.when((F.col("g") == 1) & F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.select(
        "t",
        "d",
        "d1",
        F.sum("n_all").over(w_desc).cast("long").alias("n"),
        F.sum("n1_all").over(w_desc).cast("long").alias("n1"),
    ).filter(F.col("d") > 0)
    e_term = F.floor(
        F.col("d") * F.lit(1.0) * F.col("n1") / F.col("n") * F.lit(1.0e9)
        + F.lit(0.5)
    ).cast("long")
    v_term = F.when(
        F.col("n") > 1,
        F.floor(
            F.col("d")
            * (F.col("n1") * F.lit(1.0) / F.col("n"))
            * (F.lit(1.0) - F.col("n1") * F.lit(1.0) / F.col("n"))
            * (F.col("n") - F.col("d"))
            / (F.col("n") - F.lit(1.0))
            * F.lit(1.0e9)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    terms = risk.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(e_term).cast("long").alias("e1q"),
        F.sum(v_term).cast("long").alias("vq"),
    )
    sizes = obs.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1_users"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2_users"),
    )
    e1 = F.col("e1q") / F.lit(1.0e9)
    v = F.col("vq") / F.lit(1.0e9)
    return terms.crossJoin(F.broadcast(sizes)).select(
        "n1_users",
        "n2_users",
        F.col("o1").alias("observed_1"),
        roundn(e1 / F.lit(1.0), 6).alias("expected_1"),
        roundn(v / F.lit(1.0), 6).alias("var_logrank"),
        roundn((F.col("o1") - e1) * (F.col("o1") - e1) / v, 6).alias(
            "chi2"
        ),
    )


def _na_oracle() -> str:
    return f"""
    WITH {_SURV_OBS_SQL},
    by_t AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                   AS d
        FROM obs GROUP BY 1),
    risk AS (
        SELECT t, d,
               SUM(n_all) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        FROM by_t),
    haz AS (
        SELECT t, d, CAST(n AS BIGINT) AS n_risk,
               CAST(FLOOR(d * 1.0e0 / n * 1000000000.0e0 + 0.5e0)
                    AS BIGINT) AS hq
        FROM risk WHERE d > 0)
    SELECT t AS t_hours, n_risk, d AS n_events,
           {sql_roundn(
               "SUM(hq) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)"
               " / 1000000000.0e0", 6)} AS h_nelson_aalen
    FROM haz ORDER BY t_hours
    """


@query("survival_nelson_aalen", oracle=_na_oracle())
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival tier — NELSON–AALEN cumulative hazard over the same
    observation scheme as survival_kaplan_meier: Ĥ(t) = Σ_{{tᵢ≤t}}
    dᵢ/nᵢ — the additive estimator (variance and hypothesis tests are
    natural in hazard space; KM's product form is natural for survival
    probabilities; exp(−Ĥ) is the Fleming–Harrington survival
    estimate the pair cross-checks).

    Exactness: each hazard increment quantizes once to nano units; the
    cumulative sum runs over the horizon-bounded event-time rows in
    t-order — exact int64 prefix sums.

    100 TB: user-grain aggregate then ≤ horizon+1 rows of state."""
    obs = _surv_obs(spark, sf_dir)
    by_t = obs.groupBy("t").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.select(
        "t", "d", F.sum("n_all").over(w_desc).cast("long").alias("n")
    ).filter(F.col("d") > 0)
    haz = risk.select(
        "t",
        "d",
        F.col("n").alias("n_risk"),
        F.floor(
            F.col("d") * F.lit(1.0) / F.col("n") * F.lit(1.0e9) + F.lit(0.5)
        )
        .cast("long")
        .alias("hq"),
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return haz.select(
        F.col("t").alias("t_hours"),
        "n_risk",
        F.col("d").alias("n_events"),
        roundn(F.sum("hq").over(w_asc) / F.lit(1.0e9), 6).alias(
            "h_nelson_aalen"
        ),
    ).orderBy("t_hours")


# ---------------------------------------------------------------------------
# fn_jaro_winkler
# ---------------------------------------------------------------------------

_JW_MIN = 0.8


def _jw_oracle() -> str:
    return f"""
    WITH pairs AS (
        SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
               a.p_name AS name_a, b.p_name AS name_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey)
    SELECT pk_a, pk_b, name_a, name_b,
           {sql_roundn("jaro_winkler_similarity(name_a, name_b)", 6)} AS jw
    FROM pairs
    WHERE {sql_roundn("jaro_winkler_similarity(name_a, name_b)", 6)}
          >= {_JW_MIN}e0
    ORDER BY pk_a, pk_b
    """


def _jw_batch(names_a, names_b):
    """Jaro–Winkler, Winkler's original parameters (prefix ≤ 4, scale
    0.1, boost threshold 0.7) — the SAME definition DuckDB's native
    jaro_winkler_similarity implements, verified bit-identical on the
    full pair population by the oracle differential."""

    def jaro(s1: str, s2: str) -> float:
        if s1 == s2:
            return 1.0
        l1, l2 = len(s1), len(s2)
        if l1 == 0 or l2 == 0:
            return 0.0
        md = max(max(l1, l2) // 2 - 1, 0)
        m1 = [False] * l1
        m2 = [False] * l2
        matches = 0
        for i, ch in enumerate(s1):
            lo, hi = max(0, i - md), min(l2, i + md + 1)
            for j in range(lo, hi):
                if not m2[j] and s2[j] == ch:
                    m1[i] = m2[j] = True
                    matches += 1
                    break
        if matches == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        return (
            matches / l1 + matches / l2 + (matches - t) / matches
        ) / 3.0

    out = []
    for a, b in zip(names_a, names_b):
        j = jaro(a, b)
        if j > 0.7:
            prefix = 0
            for ca, cb in zip(a[:4], b[:4]):
                if ca == cb:
                    prefix += 1
                else:
                    break
            j = j + 0.1 * prefix * (1.0 - j)
        out.append(math.floor(j * 1e6 + 0.5) / 1e6)
    return out


@query("fn_jaro_winkler", oracle=_jw_oracle())
def fn_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function tier — blocked JARO–WINKLER name matching: candidate
    part-name pairs inside (brand, size) blocks scored with Winkler's
    prefix-boosted Jaro similarity, keeping pairs ≥ 0.8 — the
    entity-resolution scorer beside fn_levenshtein (edit distance
    punishes transpositions JW forgives) and fn_trigram_sim (set
    overlap loses order JW keeps).

    The Spark side is an Arrow-vectorized pandas UDF implementing
    Winkler's original parameters; the oracle is DuckDB's NATIVE
    jaro_winkler_similarity — two independent implementations, so the
    differential is a genuine cross-validation of the algorithm, not
    of a shared code path (verified bit-identical before rounding on
    the full block population).

    100 TB: blocking bounds candidates at Σ|block|² with |block| =
    n/(|brands|·|sizes|) — the standard ER blocking discipline (the
    dedup-family argument); the UDF is Arrow-batched, one scan, one
    self-join co-partitioned on the block key."""

    @F.pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(_jw_batch(a.tolist(), b.tolist()))

    # r10 (guide §4.4): the jw >= 0.8 filter references the UDF output,
    # and the optimizer pushes a COPY of the filter below the
    # projection — the plan carried TWO ArrowEvalPython nodes, so every
    # candidate pair paid the interpreted DP twice.  Marking the UDF
    # non-deterministic fences the push-down duplication; the function
    # itself is pure, results unchanged.
    jw_udf = jw_udf.asNondeterministic()

    part = load_table(spark, sf_dir, "part")
    p = part.select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("pk_a"),
        F.col("b.p_partkey").alias("pk_b"),
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
    )
    # the broadcast self-join leaves the pair relation on the scan's
    # few input partitions — spread the Arrow batches across the
    # executor cores before the python scorer (measured 7.9 -> ~2 s
    # at sf0.1; on a cluster the block-key shuffle co-partitions)
    scored = pairs.repartition("pk_a").withColumn(
        "jw", jw_udf("name_a", "name_b")
    )
    return (
        scored.filter(F.col("jw") >= _JW_MIN)
        .select("pk_a", "pk_b", "name_a", "name_b", "jw")
        .orderBy("pk_a", "pk_b")
    )
