"""Round-7 wave 3: experiment guards, graph scoring, capacity
allocation and dual-system estimation.

* ``ab_srm_check`` — the sample-ratio-mismatch guard every
  experimentation platform runs BEFORE reading any metric: a χ² test
  that the observed arm split matches the design ratio (p < 0.001 —
  Fabijan et al. 2019's threshold); an SRM means the assignment or
  logging is broken and every downstream readout is invalid.
* ``graph_adamic_adar`` — Adamic–Adar link prediction beside
  graph_link_prediction's neighbor-Jaccard: common neighbors weighted
  1/ln(deg) so RARE shared neighbors count more — the standard fix for
  hub-dominated co-occurrence graphs.
* ``ops_fair_share_allocation`` — max-min fair (water-filling)
  capacity allocation across tenants: the allocation rule every
  multi-tenant scheduler (YARN/K8s quota) implements, in closed form
  via sorted prefix sums.
* ``stats_capture_recapture`` — Chapman's dual-system estimator: two
  independent quality detectors' flag sets estimate the TRUE
  low-quality population (including what both missed) — the census
  technique applied to corpus QC coverage.

Wave 4 (same session): ``agg_theil_decomposition`` (the decomposable
inequality index), ``graph_bridges_tarjan`` (the edge twin of the
articulation pair, cross-verified against a per-edge deletion-sweep
oracle), ``privacy_dp_topk`` (thresholded noisy top-k release).

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) has no analytics engine; these
derive from the driver's mandate on public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import u48
from gcp_de_data_pipeline_cc_spark.operators.graph import (
    supplier_backbone,
    supplier_graph,
    supplier_graph_sql,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# ab_srm_check
# ---------------------------------------------------------------------------

#: chi-square 0.1% critical value at df=1 — the SRM alarm threshold
#: (p < 0.001, deliberately stricter than metric tests: an SRM is a
#: pipeline BUG, not a hypothesis)
_SRM_CHI2_CRIT = 10.827566170662733

_SRM_ORACLE = f"""
WITH arms AS (
    SELECT CASE WHEN SUBSTR(md5('arm:' || CAST(user_id AS VARCHAR)),
                            1, 1) < '8' THEN 'A' ELSE 'B' END AS arm
    FROM (SELECT DISTINCT user_id FROM events)),
cnt AS (
    SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
    FROM arms)
SELECT n_a, n_b,
       {sql_roundn("n_a * 1.0e0 / (n_a + n_b)", 4)} AS ratio_a,
       {sql_roundn(
           "(n_a - n_b) * 1.0e0 * (n_a - n_b) / (n_a + n_b)", 4)} AS chi2,
       (n_a - n_b) * 1.0e0 * (n_a - n_b) / (n_a + n_b)
           > {_SRM_CHI2_CRIT} AS srm_flag
FROM cnt
"""


@query("ab_srm_check", oracle=_SRM_ORACLE)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation tier — SAMPLE-RATIO-MISMATCH guard (the check
    that runs BEFORE every other A/B readout): χ²(1) of the observed
    user split against the designed 50/50 for the md5 arm hash the ab_*
    keys share; the p < 0.001 alarm (Fabijan et al. 2019) is
    deliberately stricter than metric tests because an SRM is a
    pipeline BUG (broken assignment, selective logging, bot filtering
    applied to one arm) that invalidates every downstream metric —
    CUPED, delta-method and SPRT all assume this passed.

    Exactness: user counts are exact integers (distinct-user collapse
    then the identical md5 arm expression); χ² = (n_a−n_b)²/(n_a+n_b)
    is one identical expression rounded 4 dp against the shared
    critical literal.

    100 TB: one distinct-user aggregate (map-side partial) to 2-row
    arm state."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        "A",
    ).otherwise("B")
    cnt = (
        ev.select("user_id")
        .distinct()
        .select(arm.alias("arm"))
        .agg(
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b"))
        * F.lit(1.0)
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return cnt.select(
        "n_a",
        "n_b",
        roundn(F.col("n_a") * F.lit(1.0) / (F.col("n_a") + F.col("n_b")), 4)
        .alias("ratio_a"),
        roundn(chi2, 4).alias("chi2"),
        (chi2 > F.lit(_SRM_CHI2_CRIT)).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar
# ---------------------------------------------------------------------------

_AA_TOP = 20


def _adamic_adar_oracle() -> str:
    return f"""
    WITH {supplier_graph_sql()},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY u),
    wedge AS (
        SELECT g1.u AS a, g2.v AS b, g1.v AS z
        FROM g g1 JOIN g g2 ON g1.v = g2.u AND g1.u < g2.v),
    cn AS (
        SELECT w.a, w.b, CAST(COUNT(*) AS BIGINT) AS common,
               CAST(SUM(CAST(FLOOR(1000000000.0e0
                                   / ln(CAST(dz.deg AS DOUBLE)) + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS aaq
        FROM wedge w JOIN deg dz ON dz.u = w.z
        GROUP BY 1, 2),
    cand AS (
        SELECT cn.a, cn.b, cn.common, cn.aaq
        FROM cn
        WHERE NOT EXISTS (
            SELECT 1 FROM bb WHERE bb.sa = cn.a AND bb.sb = cn.b))
    SELECT a, b, common,
           {sql_roundn("aaq / 1000000000.0e0 / 1.0e0", 6)} AS adamic_adar
    FROM cand
    ORDER BY aaq DESC, a, b
    LIMIT {_AA_TOP}
    """


@query("graph_adamic_adar", oracle=_adamic_adar_oracle())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — ADAMIC–ADAR link prediction (Adamic & Adar 2003)
    beside graph_link_prediction's neighbor-Jaccard: every common
    neighbor z contributes 1/ln(deg z), so a RARE shared partner is
    strong evidence while a hub everyone ships with is nearly none —
    the weighting that separates AA from raw common-neighbor counts on
    hub-dominated co-occurrence graphs (exactly what co-shipment is).
    Non-adjacent pairs only; top-{top}.

    Exactness: each wedge's 1/ln(deg z) quantizes ONCE to integer
    nano-units (ln of an exact integer degree ≥ 2 — a common neighbor
    has at least its two wedge edges), so per-pair scores are exact
    int64 sums; ranking ties break on (a, b).

    100 TB: the same wedge join as graph_link_prediction over the
    ≤K·n session-cached backbone (fan-out K² per node, never
    all-pairs); degrees ride a broadcast; top-{top} is
    TakeOrderedAndProject."""
    bb = supplier_backbone(spark, sf_dir)
    g = supplier_graph(spark, sf_dir)
    deg = g.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    g1, g2 = g.alias("g1"), g.alias("g2")
    wedge = g1.join(
        F.broadcast(g2),
        (F.col("g1.v") == F.col("g2.u")) & (F.col("g1.u") < F.col("g2.v")),
    ).select(
        F.col("g1.u").alias("a"),
        F.col("g2.v").alias("b"),
        F.col("g1.v").alias("z"),
    )
    aaw = F.floor(
        F.lit(1000000000.0) / F.log(F.col("deg").cast("double")) + F.lit(0.5)
    ).cast("long")
    cn = (
        wedge.join(
            F.broadcast(deg.select(F.col("u").alias("z"), "deg")), "z"
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum(aaw).cast("long").alias("aaq"),
        )
    )
    cand = cn.join(
        bb,
        (cn["a"] == bb["sa"]) & (cn["b"] == bb["sb"]),
        "left_anti",
    )
    return (
        cand.orderBy(F.desc("aaq"), "a", "b")
        .limit(_AA_TOP)
        .select(
            "a",
            "b",
            "common",
            roundn(
                F.col("aaq") / F.lit(1000000000.0) / F.lit(1.0), 6
            ).alias("adamic_adar"),
        )
    )


graph_adamic_adar.__doc__ = graph_adamic_adar.__doc__.format(top=_AA_TOP)


# ---------------------------------------------------------------------------
# ops_fair_share_allocation
# ---------------------------------------------------------------------------


def _fair_share_oracle() -> str:
    return f"""
    WITH dem AS (
        SELECT c.c_nationkey AS tenant,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
    cap AS (
        SELECT CAST(SUM(d) // 2 AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM dem),
    ranked AS (
        SELECT tenant, d,
               ROW_NUMBER() OVER (ORDER BY d, tenant) AS i,
               COALESCE(SUM(d) OVER (ORDER BY d, tenant
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pre
        FROM dem),
    lev AS (
        SELECT r.*, cap.c, cap.n,
               (cap.c - r.pre) * 1.0e0 / (cap.n - r.i + 1) AS level,
               r.d * (cap.n - r.i + 1) <= (cap.c - r.pre) AS sat
        FROM ranked r CROSS JOIN cap),
    cut AS (
        SELECT COALESCE(MAX(i), 0) AS k,
               COALESCE(MAX(CASE WHEN sat THEN pre + d END), 0) AS used
        FROM lev WHERE sat),
    fin AS (
        SELECT l.tenant, l.d, l.sat, l.c, l.n, cut.k, cut.used,
               CASE WHEN l.i <= cut.k THEN l.d * 1.0e0
                    ELSE (l.c - cut.used) * 1.0e0 / (l.n - cut.k) END
                   AS alloc
        FROM lev l CROSS JOIN cut)
    SELECT tenant, d AS demand_cents,
           {sql_roundn("alloc / 100.0e0", 2)} AS allocation,
           NOT sat AS capped
    FROM fin
    ORDER BY tenant
    """


@query("ops_fair_share_allocation", oracle=_fair_share_oracle())
def ops_fair_share_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops tier — MAX-MIN FAIR (water-filling) capacity allocation,
    the rule every multi-tenant scheduler implements (YARN fair
    scheduler, Kubernetes quota): tenants = nations, demand = total
    order value, capacity = half the total demand.  Each tenant gets
    min(demand, λ) where the water level λ spends the capacity
    exactly: ascending-demand tenants are satisfied while their demand
    fits the equal-share remainder, everyone after splits what's left
    equally — no tenant can gain without a smaller-demand tenant
    losing (the max-min property).

    Exactness: the satisfied test is the exact-integer
    cross-multiplication d·(n−i+1) ≤ C−prefix (no division); λ and
    allocations divide once at the readout, rounded 2 dp.

    100 TB: one fact aggregate to tenant grain; the sorted prefix
    walk is tenant-cardinality state (two-phase global_rank at scale,
    a single bounded window here)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    dem = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("tenant"))
        .agg(F.sum(cents).cast("long").alias("d"))
    )
    dem = dem.localCheckpoint(eager=False)  # cap + ranked walk
    cap = dem.agg(
        F.floor(F.sum("d") / 2).cast("long").alias("c"),
        F.count("*").cast("long").alias("n"),
    )
    wr = Window.orderBy(F.asc("d"), F.asc("tenant"))
    ranked = dem.select(
        "tenant",
        "d",
        F.row_number().over(wr).alias("i"),
        F.coalesce(
            F.sum("d").over(
                wr.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("pre"),
    )
    lev = ranked.crossJoin(F.broadcast(cap)).select(
        "*",
        (
            F.col("d") * (F.col("n") - F.col("i") + 1)
            <= (F.col("c") - F.col("pre"))
        ).alias("sat"),
    )
    lev = lev.localCheckpoint(eager=False)  # cut + final allocations
    cut = lev.filter(F.col("sat")).agg(
        F.coalesce(F.max("i"), F.lit(0)).cast("long").alias("k"),
        F.coalesce(
            F.max(F.when(F.col("sat"), F.col("pre") + F.col("d"))),
            F.lit(0),
        )
        .cast("long")
        .alias("used"),
    )
    alloc = F.when(F.col("i") <= F.col("k"), F.col("d") * F.lit(1.0)).otherwise(
        (F.col("c") - F.col("used"))
        * F.lit(1.0)
        / (F.col("n") - F.col("k"))
    )
    return (
        lev.crossJoin(F.broadcast(cut))
        .select(
            "tenant",
            F.col("d").alias("demand_cents"),
            roundn(alloc / F.lit(100.0), 2).alias("allocation"),
            (~F.col("sat")).alias("capped"),
        )
        .orderBy("tenant")
    )


# ---------------------------------------------------------------------------
# stats_capture_recapture
# ---------------------------------------------------------------------------

#: detector sample size (each detector flags its bottom-N documents)
_CR_N = 125
#: the fixed stopword list for detector B (tokens present in the
#: synthetic corpus vocabulary)
_CR_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _capture_recapture_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in _CR_STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
        FROM (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i+1])) AS g
              FROM toks) GROUP BY 1),
    seta AS (
        SELECT doc_id FROM bi
        ORDER BY d2 * 1.0e0 / n2, doc_id LIMIT {_CR_N}),
    sw AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g IN ({sw}) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stop
        FROM (SELECT doc_id, UNNEST(t) AS g FROM toks) GROUP BY 1),
    setb AS (
        SELECT doc_id FROM sw
        ORDER BY n_stop * 1.0e0 / n1, doc_id LIMIT {_CR_N}),
    cnt AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM seta) AS n_a,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM setb) AS n_b,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM seta JOIN setb USING (doc_id)) AS n_both)
    SELECT n_a, n_b, n_both,
           CAST(FLOOR((n_a + 1) * 1.0e0 * (n_b + 1) / (n_both + 1)
                      - 1.0e0) AS BIGINT) AS chapman_estimate,
           {sql_roundn(
               "n_a * 1.0e0 / (FLOOR((n_a + 1) * 1.0e0 * (n_b + 1)"
               " / (n_both + 1) - 1.0e0))", 4)} AS coverage_a,
           {sql_roundn(
               "n_b * 1.0e0 / (FLOOR((n_a + 1) * 1.0e0 * (n_b + 1)"
               " / (n_both + 1) - 1.0e0))", 4)} AS coverage_b
    FROM cnt
    """


@query("stats_capture_recapture", oracle=_capture_recapture_oracle())
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — CHAPMAN'S CAPTURE-RECAPTURE estimator (the census
    dual-system technique) applied to corpus QC coverage: two
    independent low-quality detectors each flag their bottom-{n}
    documents (A = lowest bigram diversity, B = lowest stopword share
    — different linguistic signals, so the independence assumption has
    teeth), and the overlap estimates the TRUE low-quality population
    N̂ = (|A|+1)(|B|+1)/(|A∩B|+1) − 1 — including the documents BOTH
    detectors missed, which no single-filter report can see.
    coverage_a/b = each detector's estimated recall of the true
    population — the number a filtering-pipeline owner actually needs.

    Exactness: both detector sets are exact rank cuts (6-dp-free —
    the ORDER BY runs on exact rationals with doc_id ties); counts
    and the floored Chapman estimate are exact integers; two 4 dp
    coverage divisions at the readout.

    100 TB: two token-explode aggregates (map-side) + two
    TakeOrderedAndProject bottom-N cuts + one broadcast semi-join —
    no full sort, no pair joins."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    toks = toks.localCheckpoint(eager=False)  # both detectors
    bi = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ',"
                    " element_at(t, i + 1)))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n2"),
            F.countDistinct("g").cast("long").alias("d2"),
        )
    )
    seta = (
        bi.orderBy(
            (F.col("d2") * F.lit(1.0) / F.col("n2")).asc(),
            F.col("doc_id").asc(),
        )
        .limit(_CR_N)
        .select("doc_id")
    )
    sw = (
        toks.select("doc_id", F.explode("t").alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n1"),
            F.sum(
                F.when(F.col("g").isin(*_CR_STOPWORDS), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_stop"),
        )
    )
    setb = (
        sw.orderBy(
            (F.col("n_stop") * F.lit(1.0) / F.col("n1")).asc(),
            F.col("doc_id").asc(),
        )
        .limit(_CR_N)
        .select("doc_id")
    )
    na = seta.agg(F.count("*").cast("long").alias("n_a"))
    nb = setb.agg(F.count("*").cast("long").alias("n_b"))
    nboth = (
        seta.join(setb, "doc_id", "semi")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    chap = F.floor(
        (F.col("n_a") + 1)
        * F.lit(1.0)
        * (F.col("n_b") + 1)
        / (F.col("n_both") + 1)
        - F.lit(1.0)
    ).cast("long")
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nboth))
        .select(
            "n_a",
            "n_b",
            "n_both",
            chap.alias("chapman_estimate"),
            roundn(F.col("n_a") * F.lit(1.0) / chap.cast("double"), 4)
            .alias("coverage_a"),
            roundn(F.col("n_b") * F.lit(1.0) / chap.cast("double"), 4)
            .alias("coverage_b"),
        )
    )


stats_capture_recapture.__doc__ = stats_capture_recapture.__doc__.format(
    n=_CR_N
)


# ---------------------------------------------------------------------------
# agg_theil_decomposition (r7 wave 4)
# ---------------------------------------------------------------------------


def _theil_oracle() -> str:
    return f"""
    WITH y AS (
        SELECT c.c_nationkey AS nation,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS yv
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yv) AS BIGINT) AS s
        FROM y),
    gs AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(yv) AS BIGINT) AS sg
        FROM y GROUP BY nation),
    rows_q AS (
        SELECT y.nation,
               CAST(FLOOR((yv * 1.0e0 / tot.s)
                          * ln(yv * 1.0e0 * tot.n / tot.s)
                          * 1000000000.0e0 + 0.5e0) AS BIGINT) AS tq,
               CAST(FLOOR((yv * 1.0e0 / gs.sg)
                          * ln(yv * 1.0e0 * gs.ng / gs.sg)
                          * 1000000000.0e0 + 0.5e0) AS BIGINT) AS wq
        FROM y JOIN gs ON gs.nation = y.nation CROSS JOIN tot),
    within AS (
        SELECT nation, CAST(SUM(wq) AS BIGINT) AS wsum
        FROM rows_q GROUP BY nation),
    total_t AS (SELECT CAST(SUM(tq) AS BIGINT) AS tsum FROM rows_q),
    between_t AS (
        SELECT CAST(SUM(CAST(FLOOR((gs.sg * 1.0e0 / tot.s)
                   * ln((gs.sg * 1.0e0 / tot.s) / (gs.ng * 1.0e0 / tot.n))
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS bsum
        FROM gs CROSS JOIN tot)
    SELECT gs.nation, gs.ng AS n_customers,
           {sql_roundn("gs.sg * 1.0e0 / tot.s", 6)} AS income_share,
           {sql_roundn("within.wsum / 1000000000.0e0 / 1.0e0", 6)}
               AS t_within,
           {sql_roundn("total_t.tsum / 1000000000.0e0 / 1.0e0", 6)}
               AS t_total,
           {sql_roundn("between_t.bsum / 1000000000.0e0 / 1.0e0", 6)}
               AS t_between
    FROM gs JOIN within ON within.nation = gs.nation
    CROSS JOIN tot CROSS JOIN total_t CROSS JOIN between_t
    ORDER BY gs.nation
    """


@query("agg_theil_decomposition", oracle=_theil_oracle())
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — THEIL T INEQUALITY INDEX with its exact
    between/within decomposition, the property Gini famously LACKS
    (agg_gini can rank inequality but cannot attribute it): total
    customer-spend inequality splits EXACTLY into T_between (nation
    means diverging) + Σ share_g·T_within_g (inequality inside each
    nation) — the attribution every fairness/concentration review
    needs.  T = (1/n)Σ(y/μ)ln(y/μ) per scope, with zero-spend
    customers excluded by construction (spend > 0 for every ordering
    customer).

    Exactness: per-row contributions quantize ONCE to integer
    nano-units (ln of exact integer rationals — identical trees both
    engines), so the within/total/between sums are exact int64 — no
    accumulation-order hazard; the decomposition identity
    T_total = T_between + Σ share·T_within is test-pinned to the
    quantization grain.

    100 TB: one fact aggregate to customer grain; group stats ride a
    |nations|-row broadcast; the readout is nation-cardinality."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    y = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_custkey").alias("cid"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(F.sum(cents).cast("long").alias("yv"))
    )
    y = y.localCheckpoint(eager=False)  # totals + group stats + rows
    tot = y.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yv").cast("long").alias("s"),
    )
    gs = y.groupBy("nation").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("yv").cast("long").alias("sg"),
    )
    gs = gs.localCheckpoint(eager=False)  # rows + between + readout
    rows_q = (
        y.join(F.broadcast(gs), "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.floor(
                (F.col("yv") * F.lit(1.0) / F.col("s"))
                * F.log(
                    F.col("yv") * F.lit(1.0) * F.col("n") / F.col("s")
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("tq"),
            F.floor(
                (F.col("yv") * F.lit(1.0) / F.col("sg"))
                * F.log(
                    F.col("yv") * F.lit(1.0) * F.col("ng") / F.col("sg")
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wq"),
        )
    )
    rows_q = rows_q.localCheckpoint(eager=False)  # within + total
    within = rows_q.groupBy("nation").agg(
        F.sum("wq").cast("long").alias("wsum")
    )
    total_t = rows_q.agg(F.sum("tq").cast("long").alias("tsum"))
    between_t = (
        gs.crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                (F.col("sg") * F.lit(1.0) / F.col("s"))
                * F.log(
                    (F.col("sg") * F.lit(1.0) / F.col("s"))
                    / (F.col("ng") * F.lit(1.0) / F.col("n"))
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("bq")
        )
        .agg(F.sum("bq").cast("long").alias("bsum"))
    )
    nano = F.lit(1000000000.0)
    return (
        gs.join(within, "nation")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(total_t))
        .crossJoin(F.broadcast(between_t))
        .select(
            "nation",
            F.col("ng").alias("n_customers"),
            roundn(F.col("sg") * F.lit(1.0) / F.col("s"), 6).alias(
                "income_share"
            ),
            roundn(F.col("wsum") / nano / F.lit(1.0), 6).alias("t_within"),
            roundn(F.col("tsum") / nano / F.lit(1.0), 6).alias("t_total"),
            roundn(F.col("bsum") / nano / F.lit(1.0), 6).alias("t_between"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# graph_bridges_tarjan (r7 wave 4)
# ---------------------------------------------------------------------------

from gcp_de_data_pipeline_cc_spark.operators.graph import (  # noqa: E402
    trade_graph_sql,
    trade_sparse_graph,
)

_BR_H = 24   # min-label rounds ≥ any 25-node diameter (path = 24)


def _bridges_oracle() -> str:
    steps = []
    for i in range(1, _BR_H + 1):
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
        SELECT CAST(-1 AS BIGINT) AS chain
        UNION ALL SELECT a * 100 + b AS chain FROM kept),
    st AS (SELECT c.chain, n.v FROM chains c CROSS JOIN nodes n),
    ge AS MATERIALIZED (
        SELECT c.chain, g.u, g.v FROM chains c CROSS JOIN g
        WHERE LEAST(g.u, g.v) * 100 + GREATEST(g.u, g.v) <> c.chain),
    l0 AS MATERIALIZED (SELECT chain, v, v AS lbl FROM st),{",".join(steps)},
    comp AS (
        SELECT chain, CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_comp
        FROM l{_BR_H} GROUP BY chain),
    basef AS (SELECT n_comp FROM comp WHERE chain = -1)
    SELECT kept.a, kept.b,
           c.n_comp AS comp_without,
           b.n_comp AS comp_full,
           CAST(c.n_comp > b.n_comp AS INT) AS is_bridge
    FROM kept
    JOIN comp c ON c.chain = kept.a * 100 + kept.b
    CROSS JOIN basef b
    ORDER BY kept.a, kept.b
    """


def _tarjan_bridges(pdf):
    """One iterative DFS over the dimension-bounded backbone: tree
    edge (parent, v) is a bridge iff low[v] > disc[parent] — the edge
    twin of the articulation low-link rule."""
    import collections

    import pandas as pd

    adj = collections.defaultdict(set)
    edges = set()
    for a, b in zip(pdf["u"], pdf["v"]):
        a, b = int(a), int(b)
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
            edges.add((min(a, b), max(a, b)))
    nodes = sorted(adj)
    disc: dict[int, int] = {}
    low: dict[int, int] = {}
    bridges: set[tuple[int, int]] = set()
    t = 0
    n_comp = 0
    for root in nodes:
        if root in disc:
            continue
        n_comp += 1
        disc[root] = low[root] = t
        t += 1
        stack = [(root, None, iter(sorted(adj[root])))]
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue
                if w not in disc:
                    disc[w] = low[w] = t
                    t += 1
                    stack.append((w, v, iter(sorted(adj[w]))))
                    advanced = True
                    break
                if disc[w] < low[v]:
                    low[v] = disc[w]
            if not advanced:
                stack.pop()
                if stack:
                    pv = stack[-1][0]
                    if low[v] < low[pv]:
                        low[pv] = low[v]
                    if low[v] > disc[pv]:
                        bridges.add((min(pv, v), max(pv, v)))
    rows = [
        (a, b, n_comp + (1 if (a, b) in bridges else 0), n_comp,
         1 if (a, b) in bridges else 0)
        for a, b in sorted(edges)
    ]
    return pd.DataFrame(
        rows, columns=["a", "b", "comp_without", "comp_full", "is_bridge"]
    )


@query("graph_bridges_tarjan", oracle=_bridges_oracle())
def graph_bridges_tarjan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — BRIDGE edges via Tarjan low-links, the EDGE twin of
    graph_articulation_tarjan (nodes whose deletion splits vs edges
    whose deletion splits — a bridge is the single trade lane whose
    outage partitions the network even when no single NATION does):
    one iterative DFS marks tree edge (p, v) a bridge iff
    low[v] > disc[p]; comp_without = comp_full + is_bridge reproduces
    the per-edge deletion sweep's verdict, and the DuckDB oracle RUNS
    that sweep (one tagged min-label chain per deleted edge) — two
    genuinely different algorithms hash-matching, the Tarjan
    cross-verification discipline.

    Exactness: everything integer (DFS order, low-links, component
    counts) — no floats exist.

    100 TB: the session-cached ≤2K|V| backbone ships to one task (the
    below-cutoff strategy graph_articulation_tarjan states); the
    relational per-edge sweep is the wide-graph fallback exactly as
    for articulation."""
    g = trade_sparse_graph(spark, sf_dir)
    # one group, so one partition holds the output: sort it in place,
    # where a global sort would re-run the DFS to sample its boundaries
    return (
        g.groupBy(F.lit(1).alias("grp"))
        .applyInPandas(
            _tarjan_bridges,
            "a long, b long, comp_without long, comp_full long,"
            " is_bridge int",
        )
        .coalesce(1)
        .sortWithinPartitions("a", "b")
    )


# ---------------------------------------------------------------------------
# privacy_dp_topk (r7 wave 4)
# ---------------------------------------------------------------------------

#: epsilon as an exact rational (numerator/denominator), top-k size and
#: the release threshold
_DPT_EPS_NUM, _DPT_EPS_DEN = 1, 2
_DPT_K = 5
_DPT_TAU = 10.0


def _dp_topk_oracle() -> str:
    b = f"({_DPT_K}.0e0 * {_DPT_EPS_DEN} / {_DPT_EPS_NUM})"
    u = (
        "((CAST(CAST('0x' || SUBSTR(md5('dptopk:' || source), 1, 12)"
        " AS BIGINT) AS DOUBLE) + 0.5e0) / 281474976710656.0e0)"
    )
    noise = (
        f"(-{b} * (CASE WHEN {u} >= 0.5e0 THEN 1.0e0 ELSE -1.0e0 END)"
        f" * ln(1.0e0 - 2.0e0 * ABS({u} - 0.5e0)))"
    )
    return f"""
    WITH g AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM documents GROUP BY source),
    noisy AS (
        SELECT source, true_count,
               true_count + {noise} AS nc
        FROM g),
    ranked AS (
        SELECT source, true_count,
               FLOOR(nc * 10000.0e0 + 0.5e0) / 10000.0e0 AS noisy_count,
               ROW_NUMBER() OVER (ORDER BY nc DESC, source) AS rank,
               nc > {_DPT_TAU} AS released
        FROM noisy)
    SELECT source, noisy_count, CAST(rank AS INT) AS rank, released
    FROM ranked
    WHERE rank <= {_DPT_K}
    ORDER BY rank
    """


@query("privacy_dp_topk", oracle=_dp_topk_oracle())
def privacy_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy tier — DIFFERENTIALLY-PRIVATE TOP-K release (the third
    DP primitive beside dp_count's Laplace release and
    dp_exponential's Gumbel-max): each source's document count gets
    Laplace(k/ε) noise (sensitivity k — one document can move k
    candidate counts in the peeling view of top-k), the top-{k} NOISY
    counts are released WITH a threshold gate (nc > {tau} — the
    thresholding that keeps never-quite-there categories from leaking
    through repeated queries), and TRUE counts never leave the
    engine (the released column set is the privacy boundary;
    true_count exists only inside the plan).

    Exactness: the seeded-md5 uniform → Laplace transform is the
    dp_count idiom verbatim (deterministic, replayable release);
    ranking breaks ties on source.

    100 TB: one map-side-combined aggregate to |sources| rows; noise
    and ranking are category-cardinality scalar math."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(F.count("*").alias("true_count"))
    u = u48("dptopk", F.col("source"))
    b = F.lit(float(_DPT_K) * _DPT_EPS_DEN / _DPT_EPS_NUM)
    noise = (
        -b
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    noisy = g.select(
        "source", (F.col("true_count") + noise).alias("nc")
    )
    wr = Window.orderBy(F.desc("nc"), F.asc("source"))
    return (
        noisy.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _DPT_K)
        .select(
            "source",
            (F.floor(F.col("nc") * F.lit(10000.0) + F.lit(0.5))
             / F.lit(10000.0)).alias("noisy_count"),
            "rank",
            (F.col("nc") > F.lit(_DPT_TAU)).alias("released"),
        )
        .orderBy("rank")
    )


privacy_dp_topk.__doc__ = privacy_dp_topk.__doc__.format(
    k=_DPT_K, tau=_DPT_TAU
)


# ---------------------------------------------------------------------------
# eval_mcc (r7 wave 5)
# ---------------------------------------------------------------------------

#: corruption rate of the synthetic predictor: md5 prefix < '1' flips
#: the label (~1/16 of rows) — the eval_f1 noisy-channel device at
#: binary grain
_MCC_FLIP_HEX = "1"

_MCC_ORACLE = f"""
WITH log AS (
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS actual,
           CASE WHEN SUBSTR(md5('mcc:' || CAST(o_orderkey AS VARCHAR)),
                            1, 1) < '{_MCC_FLIP_HEX}'
                THEN 1 - (CASE WHEN o_orderpriority = '1-URGENT'
                               THEN 1 ELSE 0 END)
                ELSE (CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) END AS pred
    FROM orders),
cm AS (
    SELECT CAST(SUM(CASE WHEN actual = 1 AND pred = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN actual = 0 AND pred = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN actual = 1 AND pred = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN actual = 0 AND pred = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
    FROM log)
SELECT tp, fp, fn, tn,
       {{acc}} AS accuracy,
       {{mcc}} AS mcc
FROM cm
""".format(
    acc="FLOOR((tp + tn) * 1.0e0 / (tp + fp + fn + tn) * 1000000.0e0"
        " + 0.5e0) / 1000000.0e0",
    mcc="FLOOR((tp * tn - fp * fn) * 1.0e0"
        " / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)"
        "        * CAST((tn + fp) * (tn + fn) AS DOUBLE))"
        " * 1000000.0e0 + 0.5e0) / 1000000.0e0",
)


@query("eval_mcc", oracle=_MCC_ORACLE)
def eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — MATTHEWS CORRELATION COEFFICIENT, the single-number
    binary-classification score that survives class imbalance where
    accuracy and even F1 mislead (MCC is the Pearson correlation of
    the prediction/actual indicator variables — it only rewards a
    predictor that gets BOTH classes right, and the urgent/not-urgent
    task here is ~1:4 imbalanced, exactly the regime where the
    accuracy column beside it over-reports).  Same deterministic
    noisy-channel predictor device as eval_f1_multiclass (md5-prefix
    label flips), binary grain.

    Exactness: the confusion matrix is exact integers; MCC's
    numerator is an exact int64 cross product and the denominator
    multiplies two exact int64 pair products in double before one
    sqrt — identical trees, rounded 6 dp.

    100 TB: one map-side-combined aggregate to a 4-cell confusion
    matrix; everything after is scalar math."""
    o = load_table(spark, sf_dir, "orders")
    actual = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    flip = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("mcc:"), F.col("o_orderkey").cast("string")
                )
            ),
            1,
            1,
        )
        < _MCC_FLIP_HEX
    )
    pred = F.when(flip, 1 - actual).otherwise(actual)
    log = o.select(actual.alias("actual"), pred.alias("pred"))
    cm = log.agg(
        F.sum(F.when((F.col("actual") == 1) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("actual") == 0) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("actual") == 1) & (F.col("pred") == 0), 1)
              .otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("actual") == 0) & (F.col("pred") == 0), 1)
              .otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    acc = F.floor(
        (tp + tn) * F.lit(1.0) / (tp + fp + fn + tn) * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    mcc = F.floor(
        (tp * tn - fp * fn)
        * F.lit(1.0)
        / F.sqrt(
            ((tp + fp) * (tp + fn)).cast("double")
            * ((tn + fp) * (tn + fn)).cast("double")
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return cm.select(
        "tp", "fp", "fn", "tn", acc.alias("accuracy"), mcc.alias("mcc")
    )
