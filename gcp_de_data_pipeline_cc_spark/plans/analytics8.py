"""Round-9 wave 2: chain steady states, link-score battery, fitted-null
EDF testing, rate comparison, trend signs, control charts, equivalence.

* ``markov_stationary`` — stationary distribution of the user-journey
  Markov chain (power iteration; markov_transitions gives the matrix,
  this gives where the chain spends its time).
* ``graph_link_scores`` — common-neighbors / resource-allocation /
  preferential-attachment link-prediction battery, completing the
  classic quartet beside graph_adamic_adar and graph_link_prediction.
* ``stats_lilliefors`` — KS against a FITTED normal (estimated μ̂, σ̂
  change the null distribution: Lilliefors' critical values, not KS's).
* ``stats_poisson_rate`` — two-sample Poisson rate comparison
  (conditional-binomial z + rate ratio with Wald CI).
* ``ts_cox_stuart`` — Cox–Stuart paired-sign trend test (the
  distribution-free trend screen beside ts_theilsen's slope).
* ``ts_ewma_control`` — EWMA control chart with steady-state ±Lσ
  limits (Roberts 1959; the drift-sensitive Shewhart refinement).
* ``eval_tost`` — two one-sided tests equivalence readout on an A/A
  hash split (the CORRECT way to claim "no difference"; a large p on
  a t-test is not evidence of equivalence).

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc)
contains no analytics engine; formulas are public (Kemeny–Snell chains;
Zhou et al. 2009 RA index; Lilliefors 1967; Abramowitz–Stegun 7.1.26
normal CDF; Cox & Stuart 1955; Roberts 1959 EWMA; Schuirmann 1987
TOST).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.graph import (
    supplier_backbone,
    supplier_backbone_sql,
    supplier_graph,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# markov_stationary
# ---------------------------------------------------------------------------

_MS_ITERS = 20
#: the events table's event types: click, error, purchase, signup, view
_MS_TYPES = 5

_MS_TRANS_SQL = """
    seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
        FROM events),
    cnt AS (
        SELECT event_type AS i, next_type AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    rowt AS (SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM cnt GROUP BY 1),
    states AS (SELECT DISTINCT i AS s FROM cnt)
"""


def _ms_oracle() -> str:
    steps = []
    for k in range(1, _MS_ITERS + 1):
        steps.append(f"""
    p{k} AS (
        SELECT cnt.j AS s,
               CAST(SUM(CAST(FLOOR(p{k-1}.x * cnt.c * 1.0e0 / rowt.r
                   + 0.5e0) AS BIGINT)) AS BIGINT) AS x
        FROM cnt JOIN rowt ON rowt.i = cnt.i
                 JOIN p{k-1} ON p{k-1}.s = cnt.i
        GROUP BY cnt.j)""")
    return f"""
    WITH {_MS_TRANS_SQL},
    nst AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    p0 AS (
        SELECT s, CAST(FLOOR(1000000000.0e0 / nst.k + 0.5e0) AS BIGINT)
                   AS x
        FROM states CROSS JOIN nst)
    {"," + ",".join(steps)}
    SELECT s AS state,
           {sql_roundn(f"p{_MS_ITERS}.x / 1000000000.0e0", 6)}
               AS pi_stationary
    FROM p{_MS_ITERS}
    ORDER BY state
    """


@query("markov_stationary", oracle=_ms_oracle())
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS tier — STATIONARY DISTRIBUTION of the user-journey Markov
    chain: π = πP by power iteration (K = 20 on the |types|-state
    row-stochastic matrix markov_transitions estimates) — where the
    behavior chain spends its time in steady state, the one-vector
    summary that turns the transition matrix into a rankable
    engagement profile (and the baseline against which cohort chains
    drift).

    Exactness: the iterate lives in integer NANO units; each step's
    (i→j) contribution floors x_i·c_ij/r_i ONCE to an int and
    int-sums per j — identical op sequence both engines, bit-identical
    iterates (the graph_katz discipline). Mass drifts only by the
    per-term flooring (≤ |states|²·0.5 nanos per step).

    100 TB: one LEAD window over user journeys (the markov_transitions
    shuffle), then all state is |types|² — BOUNDED BY CONSTRUCTION, so
    the K-step iteration runs on the collected |types|²-cell matrix
    (the ≤256-row link-rep precedent) with the identical integer
    arithmetic, instead of paying K scheduler rounds for a 5-vector;
    the data-sized work (the LEAD window) stays distributed."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    cnt = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("i"), F.col("next_type").alias("j"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    rowt = cnt.groupBy("i").agg(F.sum("c").cast("long").alias("r"))
    # |types|² cells — bounded by construction, never data-sized
    cells = [
        (r["i"], r["j"], r["c"], r["r"])
        for r in collect_bounded(
            cnt.join(rowt, "i").select("i", "j", "c", "r"),
            _MS_TYPES ** 2,
            "event-type transition cells",
        )
    ]
    states = sorted({i for i, _, _, _ in cells})
    k = len(states)
    import math as _math

    x = {s: _math.floor(1.0e9 / k + 0.5) for s in states}
    for _ in range(_MS_ITERS):
        nxt = {s: 0 for s in states}
        for i, j, c, r in cells:
            nxt[j] += _math.floor(x[i] * c * 1.0 / r + 0.5)
        x = nxt
    out = spark.createDataFrame(
        [(s, x[s]) for s in states], "state STRING, x BIGINT"
    )
    return out.select(
        "state",
        roundn(F.col("x") / F.lit(1.0e9), 6).alias("pi_stationary"),
    ).orderBy("state")


# ---------------------------------------------------------------------------
# graph_link_scores
# ---------------------------------------------------------------------------

_LS_TOP = 30

_LS_BB_SQL = f"""
    {supplier_backbone_sql()},
    und AS (
        SELECT sa AS u, sb AS v FROM bb
        UNION ALL SELECT sb, sa FROM bb),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1)
"""


def _ls_oracle() -> str:
    return f"""
    WITH {_LS_BB_SQL},
    wedge AS (
        SELECT a.u AS x, b.u AS y, a.v AS z
        FROM und a JOIN und b ON a.v = b.v AND a.u < b.u),
    cand AS (
        SELECT w.x, w.y,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(CAST(FLOOR(1000000000.0e0 / dz.deg + 0.5e0)
                   AS BIGINT)) AS BIGINT) AS raq
        FROM wedge w JOIN deg dz ON dz.u = w.z
        WHERE NOT EXISTS (SELECT 1 FROM bb
                          WHERE bb.sa = w.x AND bb.sb = w.y)
        GROUP BY 1, 2),
    scored AS (
        SELECT cand.x, cand.y, cand.cn,
               cand.raq,
               dx.deg * dy.deg AS pa
        FROM cand JOIN deg dx ON dx.u = cand.x
                  JOIN deg dy ON dy.u = cand.y)
    SELECT x AS supp_a, y AS supp_b, cn AS common_neighbors,
           {sql_roundn("raq / 1000000000.0e0", 6)} AS resource_allocation,
           pa AS preferential_attachment
    FROM scored
    ORDER BY raq DESC, cn DESC, x ASC, y ASC
    LIMIT {_LS_TOP}
    """


@query("graph_link_scores", oracle=_ls_oracle())
def graph_link_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — the classic LINK-PREDICTION SCORE BATTERY on
    non-adjacent backbone pairs: common neighbors (raw evidence),
    resource allocation Σ 1/deg(z) (Zhou et al. 2009 — the harder
    hub-discount that beats Adamic–Adar's 1/ln deg on dense
    co-occurrence graphs), and preferential attachment deg(a)·deg(b)
    (the null model the other two are judged against). Completes the
    quartet with graph_adamic_adar (1/ln) and graph_link_prediction
    (Jaccard); top-30 by RA.

    Exactness: each wedge's 1/deg(z) quantizes ONCE to nano units
    (exact integer degree), so RA scores are exact int64 sums; CN and
    PA are exact integers; ranking ties break on (cn, a, b).

    100 TB: the same ≤K² fan-out wedge join as the sibling keys over
    the session-cached backbone; degrees broadcast; top-30 is
    TakeOrderedAndProject."""
    bb = supplier_backbone(spark, sf_dir)
    und = supplier_graph(spark, sf_dir)
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    a, b = und.alias("a"), und.alias("b")
    wedge = a.join(
        b, (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u"))
    ).select(
        F.col("a.u").alias("x"), F.col("b.u").alias("y"), F.col("a.v").alias("z")
    )
    adj = bb.select(F.col("sa").alias("x"), F.col("sb").alias("y"))
    cand = (
        wedge.join(F.broadcast(deg.withColumnRenamed("u", "z")), "z")
        .join(adj, ["x", "y"], "left_anti")
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(
                F.floor(F.lit(1.0e9) / F.col("deg") + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("raq"),
        )
    )
    dx = deg.select(F.col("u").alias("x"), F.col("deg").alias("degx"))
    dy = deg.select(F.col("u").alias("y"), F.col("deg").alias("degy"))
    scored = cand.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    return (
        scored.select(
            F.col("x").alias("supp_a"),
            F.col("y").alias("supp_b"),
            F.col("cn").alias("common_neighbors"),
            roundn(F.col("raq") / F.lit(1.0e9), 6).alias(
                "resource_allocation"
            ),
            (F.col("degx") * F.col("degy")).alias("preferential_attachment"),
            F.col("raq").alias("_raq"),
        )
        .orderBy(
            F.desc("_raq"),
            F.desc("common_neighbors"),
            F.asc("supp_a"),
            F.asc("supp_b"),
        )
        .limit(_LS_TOP)
        .drop("_raq")
    )


# ---------------------------------------------------------------------------
# stats_lilliefors
# ---------------------------------------------------------------------------

#: Abramowitz–Stegun 7.1.26 coefficients (shared literals both engines)
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327
#: Lilliefors 5% critical coefficient (asymptotic 0.886/sqrt(n))
_LF_C = 0.886


def _phi_sql(z: str) -> str:
    """A&S 7.1.26 Φ(z) as one identical SQL expression (abs/symmetry)."""
    t = f"(1.0e0 / (1.0e0 + {_AS_P}e0 * ABS({z})))"
    poly = (
        f"({_AS_B[0]}e0 * {t} + {_AS_B[1]}e0 * {t} * {t}"
        f" + {_AS_B[2]}e0 * {t} * {t} * {t}"
        f" + {_AS_B[3]}e0 * {t} * {t} * {t} * {t}"
        f" + {_AS_B[4]}e0 * {t} * {t} * {t} * {t} * {t})"
    )
    upper = (
        f"(1.0e0 - {_INV_SQRT_2PI}e0 * exp(0.0e0 - ABS({z}) * ABS({z})"
        f" / 2.0e0) * {poly})"
    )
    return f"(CASE WHEN {z} >= 0.0e0 THEN {upper} ELSE 1.0e0 - {upper} END)"


def _phi_col(z: F.Column) -> F.Column:
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * F.abs(z))
    poly = (
        F.lit(_AS_B[0]) * t
        + F.lit(_AS_B[1]) * t * t
        + F.lit(_AS_B[2]) * t * t * t
        + F.lit(_AS_B[3]) * t * t * t * t
        + F.lit(_AS_B[4]) * t * t * t * t * t
    )
    upper = F.lit(1.0) - F.lit(_INV_SQRT_2PI) * F.exp(
        F.lit(0.0) - F.abs(z) * F.abs(z) / F.lit(2.0)
    ) * poly
    return F.when(z >= 0.0, upper).otherwise(F.lit(1.0) - upper)


def _lf_oracle() -> str:
    phi = _phi_sql("((y - mu) / sd)")
    return f"""
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                    AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS HUGEINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS ss
        FROM day),
    fit AS (
        SELECT n,
               CAST(s AS DOUBLE) / n AS mu,
               sqrt((n * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (n * 1.0e0 * (n - 1.0e0))) AS sd
        FROM mom),
    rk AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS i FROM day),
    dev AS (
        SELECT CAST(MAX(CAST(FLOOR(GREATEST(
                   i * 1.0e0 / fit.n - {phi},
                   {phi} - (i - 1.0e0) / fit.n)
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS dq
        FROM rk CROSS JOIN fit)
    SELECT fit.n AS n,
           {sql_roundn("fit.mu / 100.0e0", 2)} AS mu_hat,
           {sql_roundn("fit.sd / 100.0e0", 2)} AS sd_hat,
           {sql_roundn("dev.dq / 1000000000.0e0", 6)} AS d_stat,
           {sql_roundn(f"{_LF_C}e0 / sqrt(fit.n * 1.0e0)", 6)} AS d_crit_05,
           dev.dq / 1000000000.0e0 > {_LF_C}e0 / sqrt(fit.n * 1.0e0)
               AS reject_normal_05
    FROM dev CROSS JOIN fit
    """


@query("stats_lilliefors", oracle=_lf_oracle())
def stats_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — LILLIEFORS normality test on daily revenue: KS
    against the FITTED N(μ̂, σ̂²). Estimating the parameters shrinks
    the null distribution of D, so the plain KS critical value is
    anti-conservative — Lilliefors' 0.886/√n (5%) is the corrected
    bar. The gatekeeper for every normal-theory key (stats_bartlett,
    hypothesis_ttest, eval_tost) on this series.

    Exactness: μ̂, σ̂ come from exact HUGEINT/decimal moments; Φ is
    the Abramowitz–Stegun 7.1.26 polynomial — shared literal
    coefficients, one identical abs/exp/polynomial sequence per
    engine; each ranked deviation quantizes once to nano units before
    the max.

    100 TB: day-grain relation; two-phase global_rank order
    statistics; 1-row fold."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("y")
    )
    day = day.localCheckpoint(eager=False)  # moments + rank
    mom = day.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    fit = mom.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("n") * F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (F.col("n") * F.lit(1.0) * (F.col("n") - F.lit(1.0)))
        ).alias("sd"),
    )
    rk = global_rank(day.select("y"), [F.col("y")], rank_col="i")
    phi = _phi_col((F.col("y") - F.col("mu")) / F.col("sd"))
    dev = (
        rk.crossJoin(F.broadcast(fit))
        .agg(
            F.max(
                F.floor(
                    F.greatest(
                        F.col("i") * F.lit(1.0) / F.col("n") - phi,
                        phi - (F.col("i") - F.lit(1.0)) / F.col("n"),
                    )
                    * F.lit(1.0e9)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("dq")
        )
    )
    crit = F.lit(_LF_C) / F.sqrt(F.col("n") * F.lit(1.0))
    return dev.crossJoin(F.broadcast(fit)).select(
        F.col("n").alias("n"),
        roundn(F.col("mu") / F.lit(100.0), 2).alias("mu_hat"),
        roundn(F.col("sd") / F.lit(100.0), 2).alias("sd_hat"),
        roundn(F.col("dq") / F.lit(1.0e9), 6).alias("d_stat"),
        roundn(crit / F.lit(1.0), 6).alias("d_crit_05"),
        (F.col("dq") / F.lit(1.0e9) > crit).alias("reject_normal_05"),
    )


# ---------------------------------------------------------------------------
# stats_poisson_rate
# ---------------------------------------------------------------------------

_PR_Z95 = 1.959963984540054


def _pr_oracle() -> str:
    return f"""
    WITH bounds AS (
        SELECT MIN(ts) AS t0 FROM events),
    tagged AS (
        SELECT CASE WHEN date_diff('day', bounds.t0, ts) < 10
                    THEN 1 ELSE 2 END AS win
        FROM events CROSS JOIN bounds
        WHERE event_type = 'error'),
    c AS (
        SELECT CAST(SUM(CASE WHEN win = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x1,
               CAST(SUM(CASE WHEN win = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x2
        FROM tagged),
    span AS (
        SELECT CAST(date_diff('day', MIN(ts),
                    MAX(ts) + INTERVAL 1 SECOND) + 1 AS BIGINT) AS days
        FROM events),
    fit AS (
        SELECT c.x1, c.x2, 10.0e0 AS t1, span.days - 10.0e0 AS t2
        FROM c CROSS JOIN span)
    SELECT x1, x2,
           {sql_roundn("t1", 1)} AS t1_days,
           {sql_roundn("t2", 1)} AS t2_days,
           {sql_roundn("(x1 / t1) / (x2 / t2)", 6)} AS rate_ratio,
           {sql_roundn(
               "(x1 - (x1 + x2) * (t1 / (t1 + t2)))"
               " / sqrt((x1 + x2) * (t1 / (t1 + t2))"
               "        * (1.0e0 - t1 / (t1 + t2)))", 6)} AS z_stat,
           {sql_roundn(
               f"exp(ln((x1 / t1) / (x2 / t2)) - {_PR_Z95}e0"
               f" * sqrt(1.0e0 / x1 + 1.0e0 / x2))", 6)} AS rr_ci95_lo,
           {sql_roundn(
               f"exp(ln((x1 / t1) / (x2 / t2)) + {_PR_Z95}e0"
               f" * sqrt(1.0e0 / x1 + 1.0e0 / x2))", 6)} AS rr_ci95_hi
    FROM fit
    """


@query("stats_poisson_rate", oracle=_pr_oracle())
def stats_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — two-sample POISSON RATE test on the error stream:
    did the first 10 days carry a different error rate than the rest
    of the window?  Conditional on the total, x₁ ~ Binomial(n, t₁/T)
    under equal rates — the z-statistic tests that split exactly;
    plus the rate ratio with the Wald CI on ln RR (√(1/x₁+1/x₂)) —
    the incident-analysis readout beside ops_incident_mttr.

    Exactness: counts and day spans are exact ints; one documented
    double expression each, quantized at 6 dp.

    100 TB: one filtered scan, 1-row folds (the min-ts anchor is a
    1-row broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.localCheckpoint(eager=False)  # anchor + span + counts
    bounds = ev.agg(F.min("ts").alias("t0"))
    span = ev.agg(
        (
            F.datediff(
                F.max("ts") + F.expr("INTERVAL 1 SECOND"), F.min("ts")
            )
            + F.lit(1)
        )
        .cast("long")
        .alias("days")
    )
    tagged = (
        ev.filter(F.col("event_type") == "error")
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.datediff("ts", "t0") < 10, 1).otherwise(2).alias("win")
        )
    )
    c = tagged.agg(
        F.sum(F.when(F.col("win") == 1, 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("win") == 2, 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    fit = c.crossJoin(F.broadcast(span)).select(
        "x1",
        "x2",
        F.lit(10.0).alias("t1"),
        (F.col("days") - F.lit(10.0)).alias("t2"),
    )
    p0 = F.col("t1") / (F.col("t1") + F.col("t2"))
    rr = (F.col("x1") / F.col("t1")) / (F.col("x2") / F.col("t2"))
    se = F.sqrt(F.lit(1.0) / F.col("x1") + F.lit(1.0) / F.col("x2"))
    return fit.select(
        "x1",
        "x2",
        roundn(F.col("t1"), 1).alias("t1_days"),
        roundn(F.col("t2"), 1).alias("t2_days"),
        roundn(rr / F.lit(1.0), 6).alias("rate_ratio"),
        roundn(
            (F.col("x1") - (F.col("x1") + F.col("x2")) * p0)
            / F.sqrt(
                (F.col("x1") + F.col("x2")) * p0 * (F.lit(1.0) - p0)
            ),
            6,
        ).alias("z_stat"),
        roundn(F.exp(F.log(rr) - F.lit(_PR_Z95) * se), 6).alias(
            "rr_ci95_lo"
        ),
        roundn(F.exp(F.log(rr) + F.lit(_PR_Z95) * se), 6).alias(
            "rr_ci95_hi"
        ),
    )


# ---------------------------------------------------------------------------
# ts_cox_stuart
# ---------------------------------------------------------------------------


def _cs_oracle() -> str:
    return f"""
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                    AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1),
    ser AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS t FROM day),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ser),
    pairs AS (
        SELECT a.y AS early, b.y AS late
        FROM ser a CROSS JOIN n
        JOIN ser b ON b.t = a.t + (n.n + 1) // 2
        WHERE a.t <= n.n // 2),
    s AS (
        SELECT CAST(SUM(CASE WHEN late > early THEN 1 ELSE 0 END)
                    AS BIGINT) AS sp,
               CAST(SUM(CASE WHEN late < early THEN 1 ELSE 0 END)
                    AS BIGINT) AS sm
        FROM pairs)
    SELECT n.n AS n, s.sp + s.sm AS n_pairs, s.sp AS s_plus,
           s.sm AS s_minus,
           {sql_roundn(
               "(s.sp - (s.sp + s.sm) / 2.0e0)"
               " / sqrt((s.sp + s.sm) / 4.0e0)", 6)} AS z,
           CASE WHEN (s.sp - (s.sp + s.sm) / 2.0e0)
                     / sqrt((s.sp + s.sm) / 4.0e0) > 1.959963984540054e0
                THEN 'upward'
                WHEN (s.sp - (s.sp + s.sm) / 2.0e0)
                     / sqrt((s.sp + s.sm) / 4.0e0) < -1.959963984540054e0
                THEN 'downward'
                ELSE 'no_trend' END AS trend
    FROM s CROSS JOIN n
    """


@query("ts_cox_stuart", oracle=_cs_oracle())
def ts_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS tier — COX–STUART paired-sign trend test on daily revenue:
    pair each first-half observation with its second-half partner
    (lag ⌈n/2⌉, middle dropped when n is odd), count sign(late−early);
    under no trend S₊ ~ Binomial(N, ½) — the assumption-free trend
    screen whose SLOPE companion is ts_theilsen, and the monotone-
    trend cousin of ts_turning_points' randomness count.

    Exactness: cents comparisons and counts exact; one z expression
    (normal approximation, documented; ties drop), trend label from
    the same z both engines.

    100 TB: one offset self-join on the calendar-bounded day spine."""
    ser = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).alias("t"), "y"
        )
    )
    ser = ser.localCheckpoint(eager=False)
    nn = ser.agg(F.count("*").cast("long").alias("n"))
    a, b = ser.alias("a"), ser.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(nn))
        .join(
            b,
            F.col("b.t")
            == F.col("a.t") + F.floor((F.col("n") + 1) / 2).cast("long"),
        )
        .filter(F.col("a.t") <= F.floor(F.col("n") / 2).cast("long"))
        .select(F.col("a.y").alias("early"), F.col("b.y").alias("late"))
    )
    s = pairs.agg(
        F.sum(F.when(F.col("late") > F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("sp"),
        F.sum(F.when(F.col("late") < F.col("early"), 1).otherwise(0))
        .cast("long")
        .alias("sm"),
    )
    npairs = F.col("sp") + F.col("sm")
    z = (F.col("sp") - npairs / F.lit(2.0)) / F.sqrt(npairs / F.lit(4.0))
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n"),
        npairs.alias("n_pairs"),
        F.col("sp").alias("s_plus"),
        F.col("sm").alias("s_minus"),
        roundn(z / F.lit(1.0), 6).alias("z"),
        F.when(z > F.lit(_PR_Z95), F.lit("upward"))
        .when(z < F.lit(-_PR_Z95), F.lit("downward"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# ts_ewma_control
# ---------------------------------------------------------------------------

_EC_LAMBDA = 0.2
_EC_L = 3.0
_EC_TAPS = 16


def _ec_oracle() -> str:
    return f"""
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                    AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1),
    ser AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS t FROM day),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS HUGEINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS ss
        FROM ser),
    fit AS (
        SELECT n, CAST(s AS DOUBLE) / n AS mu,
               sqrt((n * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (n * 1.0e0 * (n - 1.0e0))) AS sd
        FROM mom),
    terms AS (
        SELECT a.t,
               CAST(SUM(CAST(FLOOR({_EC_LAMBDA}e0
                   * pow(1.0e0 - {_EC_LAMBDA}e0, a.t - b.t) * b.y
                   * 1000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS zq,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM ser a JOIN ser b
          ON b.t BETWEEN a.t - {_EC_TAPS - 1} AND a.t
        GROUP BY a.t),
    ew AS (
        SELECT terms.t,
               (terms.zq / 1000.0e0
                + pow(1.0e0 - {_EC_LAMBDA}e0, terms.m) * fit.mu) AS z,
               fit.mu, fit.sd
        FROM terms CROSS JOIN fit)
    SELECT t,
           {sql_roundn("z / 100.0e0", 2)} AS ewma,
           {sql_roundn(
               f"(mu + {_EC_L}e0 * sd * sqrt({_EC_LAMBDA}e0"
               f" / (2.0e0 - {_EC_LAMBDA}e0))) / 100.0e0", 2)} AS ucl,
           {sql_roundn(
               f"(mu - {_EC_L}e0 * sd * sqrt({_EC_LAMBDA}e0"
               f" / (2.0e0 - {_EC_LAMBDA}e0))) / 100.0e0", 2)} AS lcl,
           z > mu + {_EC_L}e0 * sd
               * sqrt({_EC_LAMBDA}e0 / (2.0e0 - {_EC_LAMBDA}e0))
           OR z < mu - {_EC_L}e0 * sd
               * sqrt({_EC_LAMBDA}e0 / (2.0e0 - {_EC_LAMBDA}e0))
               AS out_of_control
    FROM ew ORDER BY t
    """


@query("ts_ewma_control", oracle=_ec_oracle())
def ts_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS tier — EWMA CONTROL CHART (Roberts 1959) on daily revenue:
    z_t = λy_t + (1−λ)z_{{t−1}} at λ = 0.2 against steady-state
    ±L·σ·√(λ/(2−λ)) limits (L = 3) — the small-persistent-shift
    detector Shewhart charts miss, flagging out-of-control days; the
    monitoring sibling of ts_cusum/ts_page_hinkley (those locate a
    single change, this runs a continuous chart).

    The recursion truncates at 16 taps (weight mass 1−0.8¹⁶ ≈ 97%;
    the tail folds to the in-control mean) — ts_ewma's bounded-frame
    discipline, which keeps the chart ONE window aggregate instead of
    sequential state.

    Exactness: each tap's λ(1−λ)^k·y term quantizes once to milli-cent
    units and int-sums (order-free); μ̂/σ̂ from exact HUGEINT moments;
    limits are one shared expression.

    100 TB: one 16-row-frame window over the calendar-bounded spine
    per series; at 100× the chart would partition by series key."""
    ser = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    ser = ser.localCheckpoint(eager=False)  # moments + tap join
    mom = ser.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    fit = mom.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("n") * F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (F.col("n") * F.lit(1.0) * (F.col("n") - F.lit(1.0)))
        ).alias("sd"),
    )
    a, b = ser.alias("a"), ser.alias("b")
    terms = (
        a.join(
            b,
            (F.col("b.t") >= F.col("a.t") - (_EC_TAPS - 1))
            & (F.col("b.t") <= F.col("a.t")),
        )
        .groupBy(F.col("a.t").alias("t"))
        .agg(
            F.sum(
                F.floor(
                    F.lit(_EC_LAMBDA)
                    * F.pow(
                        F.lit(1.0 - _EC_LAMBDA),
                        (F.col("a.t") - F.col("b.t")).cast("double"),
                    )
                    * F.col("b.y")
                    * F.lit(1000.0)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("zq"),
            F.count("*").cast("long").alias("m"),
        )
    )
    ew = terms.crossJoin(F.broadcast(fit)).select(
        "t",
        (
            F.col("zq") / F.lit(1000.0)
            + F.pow(F.lit(1.0 - _EC_LAMBDA), F.col("m").cast("double"))
            * F.col("mu")
        ).alias("z"),
        "mu",
        "sd",
    )
    half = F.lit(_EC_L) * F.col("sd") * F.sqrt(
        F.lit(_EC_LAMBDA) / (F.lit(2.0) - F.lit(_EC_LAMBDA))
    )
    return ew.select(
        "t",
        roundn(F.col("z") / F.lit(100.0), 2).alias("ewma"),
        roundn((F.col("mu") + half) / F.lit(100.0), 2).alias("ucl"),
        roundn((F.col("mu") - half) / F.lit(100.0), 2).alias("lcl"),
        (
            (F.col("z") > F.col("mu") + half)
            | (F.col("z") < F.col("mu") - half)
        ).alias("out_of_control"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# eval_tost
# ---------------------------------------------------------------------------

_TOST_Z05 = 1.6448536269514722  # one-sided 5% normal quantile
_TOST_MARGIN = 0.05  # equivalence margin: ±5% of the pooled mean


def _tost_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS y,
               CASE WHEN CAST(CAST('0x' || SUBSTR(md5('tost:'
                        || CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT)
                        AS BIGINT) % 2 = 0
                    THEN 1 ELSE 2 END AS g
        FROM orders),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS HUGEINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS ss
        FROM v GROUP BY 1),
    fit AS (
        SELECT g1.n AS n1, g2.n AS n2,
               CAST(g1.s AS DOUBLE) / g1.n AS m1,
               CAST(g2.s AS DOUBLE) / g2.n AS m2,
               (g1.n * CAST(g1.ss AS DOUBLE)
                - CAST(g1.s AS DOUBLE) * CAST(g1.s AS DOUBLE))
                   / (g1.n * 1.0e0 * g1.n * (g1.n - 1.0e0)) AS v1,
               (g2.n * CAST(g2.ss AS DOUBLE)
                - CAST(g2.s AS DOUBLE) * CAST(g2.s AS DOUBLE))
                   / (g2.n * 1.0e0 * g2.n * (g2.n - 1.0e0)) AS v2,
               (CAST(g1.s AS DOUBLE) + CAST(g2.s AS DOUBLE))
                   / (g1.n + g2.n) AS mpool
        FROM (SELECT * FROM grp WHERE g = 1) g1
        CROSS JOIN (SELECT * FROM grp WHERE g = 2) g2)
    SELECT n1, n2,
           {sql_roundn("(m1 - m2) / 100.0e0", 4)} AS mean_diff,
           {sql_roundn("sqrt(v1 / n1 + v2 / n2) / 100.0e0", 4)} AS se_diff,
           {sql_roundn(f"{_TOST_MARGIN}e0 * mpool / 100.0e0", 4)}
               AS margin,
           {sql_roundn(
               f"((m1 - m2) + {_TOST_MARGIN}e0 * mpool)"
               f" / sqrt(v1 / n1 + v2 / n2)", 6)} AS z_lower,
           {sql_roundn(
               f"({_TOST_MARGIN}e0 * mpool - (m1 - m2))"
               f" / sqrt(v1 / n1 + v2 / n2)", 6)} AS z_upper,
           ((m1 - m2) + {_TOST_MARGIN}e0 * mpool)
               / sqrt(v1 / n1 + v2 / n2) > {_TOST_Z05}e0
           AND ({_TOST_MARGIN}e0 * mpool - (m1 - m2))
               / sqrt(v1 / n1 + v2 / n2) > {_TOST_Z05}e0
               AS equivalent_05
    FROM fit
    """


@query("eval_tost", oracle=_tost_oracle())
def eval_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval/AB tier — TOST EQUIVALENCE test (Schuirmann 1987) on an
    A/A md5 hash split of order values: two one-sided z-tests against
    the ±5%-of-mean margin — BOTH must reject for an equivalence
    claim. The correct formalization of "the split is balanced" /
    "the refactor changed nothing": a big p-value on an ordinary
    t-test is absence of evidence, TOST is evidence of absence. The
    A/A law: the hash split MUST come out equivalent.

    Exactness: group moments are exact HUGEINT/decimal sums from
    integer cents; the z pair is one identical closed form (large-
    sample normal form, documented).

    100 TB: one scan, 2-group aggregate, 1-row fold."""
    orders = load_table(spark, sf_dir, "orders")
    g = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tost:"), F.col("o_orderkey").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        1,
    ).otherwise(2)
    v = orders.select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("y"),
        g.alias("g"),
    )
    grp = v.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    mvar = (
        F.col("n") * F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (F.col("n") * F.lit(1.0) * F.col("n") * (F.col("n") - F.lit(1.0)))
    g1 = grp.filter(F.col("g") == 1).select(
        F.col("n").alias("n1"),
        (F.col("s").cast("double") / F.col("n")).alias("m1"),
        mvar.alias("v1"),
        F.col("s").cast("double").alias("s1"),
    )
    g2 = grp.filter(F.col("g") == 2).select(
        F.col("n").alias("n2"),
        (F.col("s").cast("double") / F.col("n")).alias("m2"),
        mvar.alias("v2"),
        F.col("s").cast("double").alias("s2"),
    )
    fit = g1.crossJoin(F.broadcast(g2)).withColumn(
        "mpool",
        (F.col("s1") + F.col("s2")) / (F.col("n1") + F.col("n2")),
    )
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    diff = F.col("m1") - F.col("m2")
    margin = F.lit(_TOST_MARGIN) * F.col("mpool")
    zl = (diff + margin) / se
    zu = (margin - diff) / se
    return fit.select(
        "n1",
        "n2",
        roundn(diff / F.lit(100.0), 4).alias("mean_diff"),
        roundn(se / F.lit(100.0), 4).alias("se_diff"),
        roundn(margin / F.lit(100.0), 4).alias("margin"),
        roundn(zl / F.lit(1.0), 6).alias("z_lower"),
        roundn(zu / F.lit(1.0), 6).alias("z_upper"),
        ((zl > F.lit(_TOST_Z05)) & (zu > F.lit(_TOST_Z05))).alias(
            "equivalent_05"
        ),
    )
