"""Round-9 wave: goodness-of-fit, independence, ordered-alternative and
robust effect-size statistics.

* ``stats_anderson_darling`` / ``stats_cramer_von_mises`` — the two
  classical EDF goodness-of-fit statistics beside the KS family
  (stats_ks_uniform): A² weights the tails, W² integrates the squared
  EDF gap. Run against U(0,1) on the portable md5 draw, completing the
  hash-quality audit battery.
* ``stats_gtest`` — likelihood-ratio G-test of independence, the
  log-likelihood sibling of hypothesis_chisq.
* ``stats_jonckheere`` — Jonckheere–Terpstra ordered-alternative trend
  test across k ordered groups (the trend-aware Kruskal–Wallis).
* ``stats_brunner_munzel`` — rank-based two-sample test without the
  equal-variance assumption Mann–Whitney needs.
* ``stats_cliffs_delta`` — the ordinal dominance effect size paired
  with the rank tests.
* ``stats_bartlett`` — k-sample equality-of-variances (the parametric
  sibling of stats_levene_bf).
* ``stats_odds_ratio`` — 2×2 odds ratio / relative risk with Woolf CI.

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) contains no statistics engine;
these derive from the engine's analytics mandate on public formulas
(Anderson & Darling 1954; Cramér–von Mises; Sokal & Rohlf G-test;
Jonckheere 1954 / Terpstra 1952 with the Hollander–Wolfe tie-corrected
variance; Brunner & Munzel 2000; Cliff 1993; Bartlett 1937; Woolf 1955).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48, u48
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: the salt of the portable md5 U(0,1) draw over orders — identical to
#: stats_ks_uniform so the three EDF statistics audit the SAME sample
_U_SALT = "k"


# ---------------------------------------------------------------------------
# stats_anderson_darling
# ---------------------------------------------------------------------------

#: 5% critical value of A² for a FULLY SPECIFIED null (no estimated
#: parameters) — Anderson & Darling's asymptotic table
_AD_CRIT_05 = 2.492


def _ad_oracle() -> str:
    return f"""
    WITH v AS (SELECT {sql_u48(_U_SALT)} AS u FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    rk AS (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS i FROM v),
    s AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   ((2.0e0 * i - 1.0e0) * ln(u)
                    + (2.0e0 * (n.n - i) + 1.0e0) * ln(1.0e0 - u))
                   * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sq
        FROM rk CROSS JOIN n)
    SELECT n.n AS n,
           {sql_roundn(
               "0.0e0 - n.n - (s.sq / 1000000.0e0) / n.n", 6)} AS a2_stat,
           (0.0e0 - n.n - (s.sq / 1000000.0e0) / n.n) > {_AD_CRIT_05}e0
               AS reject_05
    FROM s CROSS JOIN n
    """


@query("stats_anderson_darling", oracle=_ad_oracle())
def stats_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — one-sample ANDERSON–DARLING against U(0,1) on the
    portable md5 draw: A² = −n − (1/n)·Σᵢ[(2i−1)ln u₍ᵢ₎ +
    (2(n−i)+1)ln(1−u₍ᵢ₎)] — the tail-weighted EDF statistic beside the
    supremum-based KS (stats_ks_uniform): a hash whose extremes
    misbehave passes KS but fails A². The law: the draw must NOT
    reject at the fully-specified 5% critical value 2.492.

    Exactness: u are exact dyadic rationals; each ranked row's term
    quantizes ONCE to 1e-6 units (identical ln/mult/floor sequence in
    both engines) and int-sums — order-free. Micro (not nano) units
    keep the sum inside int64 up to n ~ 1.5M rows per the (2n·|ln u|)
    magnitude bound; past that, widen to decimal.

    100 TB: order statistics via the two-phase global_rank (never a
    one-reducer sort); the readout is a 1-row fold."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(u48(_U_SALT).alias("u"))
    v = v.localCheckpoint(eager=False)  # rank + count
    nn = v.agg(F.count("*").cast("long").alias("n"))
    rk = global_rank(v, [F.col("u")], rank_col="i")
    s = (
        rk.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                F.floor(
                    (
                        (F.lit(2.0) * F.col("i") - F.lit(1.0)) * F.log("u")
                        + (
                            F.lit(2.0) * (F.col("n") - F.col("i"))
                            + F.lit(1.0)
                        )
                        * F.log(F.lit(1.0) - F.col("u"))
                    )
                    * F.lit(1.0e6)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("sq")
        )
    )
    a2 = F.lit(0.0) - F.col("n") - (F.col("sq") / F.lit(1.0e6)) / F.col("n")
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n"),
        roundn(a2 / F.lit(1.0), 6).alias("a2_stat"),
        (a2 > F.lit(_AD_CRIT_05)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# stats_cramer_von_mises
# ---------------------------------------------------------------------------

#: 5% critical value of W² for a fully specified null
_CVM_CRIT_05 = 0.461


def _cvm_oracle() -> str:
    return f"""
    WITH v AS (SELECT {sql_u48(_U_SALT)} AS u FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    rk AS (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS i FROM v),
    s AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   (u - (2.0e0 * i - 1.0e0) / (2.0e0 * n.n))
                   * (u - (2.0e0 * i - 1.0e0) / (2.0e0 * n.n))
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sq
        FROM rk CROSS JOIN n)
    SELECT n.n AS n,
           {sql_roundn(
               "1.0e0 / (12.0e0 * n.n) + s.sq / 1000000000.0e0", 6)}
               AS w2_stat,
           (1.0e0 / (12.0e0 * n.n) + s.sq / 1000000000.0e0)
               > {_CVM_CRIT_05}e0 AS reject_05
    FROM s CROSS JOIN n
    """


@query("stats_cramer_von_mises", oracle=_cvm_oracle())
def stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — one-sample CRAMÉR–VON MISES against U(0,1) on the
    portable md5 draw: W² = 1/(12n) + Σᵢ(u₍ᵢ₎ − (2i−1)/(2n))² — the
    integrated-squared-gap EDF statistic completing the battery (KS =
    supremum, A² = tail-weighted integral, W² = uniform-weighted
    integral). The law: must NOT reject at the 5% critical 0.461.

    Exactness: each ranked row's squared gap (≤ 1) quantizes once to
    nano units and int-sums — order-free, inside int64 to n ~ 9e9 rows.

    100 TB: identical shape to stats_anderson_darling — global_rank
    order statistics, 1-row fold."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(u48(_U_SALT).alias("u"))
    v = v.localCheckpoint(eager=False)
    nn = v.agg(F.count("*").cast("long").alias("n"))
    rk = global_rank(v, [F.col("u")], rank_col="i")
    gap = F.col("u") - (F.lit(2.0) * F.col("i") - F.lit(1.0)) / (
        F.lit(2.0) * F.col("n")
    )
    s = (
        rk.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                F.floor(gap * gap * F.lit(1.0e9) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("sq")
        )
    )
    w2 = F.lit(1.0) / (F.lit(12.0) * F.col("n")) + F.col("sq") / F.lit(1.0e9)
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n"),
        roundn(w2 / F.lit(1.0), 6).alias("w2_stat"),
        (w2 > F.lit(_CVM_CRIT_05)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# stats_gtest
# ---------------------------------------------------------------------------


def _gtest_oracle() -> str:
    return f"""
    WITH obs AS (
        SELECT event_type AS r,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2),
    rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS nr FROM obs GROUP BY 1),
    ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS nc FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    g AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   2.0e0 * obs.o * ln(obs.o * 1.0e0 * n.n
                                      / (rt.nr * 1.0e0 * ct.nc))
                   * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS gq,
               CAST(COUNT(*) AS BIGINT) AS cells
        FROM obs JOIN rt ON obs.r = rt.r
                 JOIN ct ON obs.c = ct.c
                 CROSS JOIN n),
    dims AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS nrows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS ncols)
    SELECT n.n AS n,
           g.cells AS n_cells,
           (dims.nrows - 1) * (dims.ncols - 1) AS df,
           {sql_roundn("g.gq / 1000000.0e0", 6)} AS g_stat
    FROM g CROSS JOIN n CROSS JOIN dims
    """


@query("stats_gtest", oracle=_gtest_oracle())
def stats_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — G-TEST of independence (likelihood-ratio chi²):
    G = 2·Σ_cells O·ln(O·N/(N_row·N_col)) over the event_type ×
    hour-of-day contingency table — the log-likelihood sibling of
    hypothesis_chisq (additive across partitions of the table, which
    Pearson's X² is not; the right form when cells are sparse or the
    table will be drilled into).

    Exactness: observed counts and margins are exact int64; each
    cell's 2·O·ln(O·N/(N_r·N_c)) quantizes once to 1e-6 units
    (identical op sequence) and int-sums over the ≤ r·c cells.

    100 TB: the contingency table is |event_types|·24 rows — margins
    broadcast; one scan, one groupBy."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("r"),
        F.hour("ts").cast("long").alias("c"),
    ).agg(F.count("*").cast("long").alias("o"))
    obs = obs.localCheckpoint(eager=False)  # margins + cells
    rt = obs.groupBy("r").agg(F.sum("o").cast("long").alias("nr"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("long").alias("nc"))
    nn = obs.agg(F.sum("o").cast("long").alias("n"))
    term = F.floor(
        F.lit(2.0)
        * F.col("o")
        * F.log(
            F.col("o") * F.lit(1.0) * F.col("n")
            / (F.col("nr") * F.lit(1.0) * F.col("nc"))
        )
        * F.lit(1.0e6)
        + F.lit(0.5)
    ).cast("long")
    g = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(term).cast("long").alias("gq"),
            F.count("*").cast("long").alias("cells"),
        )
    )
    dims = rt.agg(F.count("*").cast("long").alias("nrows")).crossJoin(
        ct.agg(F.count("*").cast("long").alias("ncols"))
    )
    return (
        g.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").alias("n"),
            F.col("cells").alias("n_cells"),
            ((F.col("nrows") - 1) * (F.col("ncols") - 1)).alias("df"),
            roundn(F.col("gq") / F.lit(1.0e6), 6).alias("g_stat"),
        )
    )


# ---------------------------------------------------------------------------
# stats_jonckheere
# ---------------------------------------------------------------------------


def _jt_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT CAST(SUBSTR(o.o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(l.l_quantity AS BIGINT) AS x
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cell AS (
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    u2 AS (
        SELECT CAST(SUM(CASE WHEN a.x < b.x THEN 2 * a.c * b.c
                             WHEN a.x = b.x THEN a.c * b.c
                             ELSE 0 END) AS BIGINT) AS j2
        FROM cell a JOIN cell b ON a.g < b.g),
    gs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM cell GROUP BY 1),
    ts AS (SELECT x, CAST(SUM(c) AS BIGINT) AS tv FROM cell GROUP BY 1),
    agg AS (
        SELECT (SELECT CAST(SUM(ng) AS BIGINT) FROM gs) AS n,
               (SELECT CAST(SUM(ng * ng) AS BIGINT) FROM gs) AS sn2,
               (SELECT CAST(SUM(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT)
                FROM gs) AS sg5,
               (SELECT CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT)
                FROM ts) AS st5,
               (SELECT CAST(SUM(ng * (ng - 1) * (ng - 2)) AS BIGINT)
                FROM gs) AS sg3,
               (SELECT CAST(SUM(tv * (tv - 1) * (tv - 2)) AS BIGINT)
                FROM ts) AS st3,
               (SELECT CAST(SUM(ng * (ng - 1)) AS BIGINT) FROM gs) AS sg2,
               (SELECT CAST(SUM(tv * (tv - 1)) AS BIGINT) FROM ts) AS st2)
    SELECT agg.n AS n,
           {sql_roundn("u2.j2 / 2.0e0", 1)} AS j_stat,
           {sql_roundn(
               "(agg.n * 1.0e0 * agg.n - agg.sn2) / 4.0e0", 1)} AS e_j,
           ((agg.n * 1.0e0 * (agg.n - 1.0e0) * (2.0e0 * agg.n + 5.0e0)
             - agg.sg5 - agg.st5) / 72.0e0
            + agg.sg3 * 1.0e0 * agg.st3
              / (36.0e0 * agg.n * (agg.n - 1.0e0) * (agg.n - 2.0e0))
            + agg.sg2 * 1.0e0 * agg.st2
              / (8.0e0 * agg.n * (agg.n - 1.0e0))) AS var_j,
           {sql_roundn(
               "(u2.j2 / 2.0e0"
               " - (agg.n * 1.0e0 * agg.n - agg.sn2) / 4.0e0)"
               " / sqrt("
               "(agg.n * 1.0e0 * (agg.n - 1.0e0) * (2.0e0 * agg.n + 5.0e0)"
               " - agg.sg5 - agg.st5) / 72.0e0"
               " + agg.sg3 * 1.0e0 * agg.st3"
               "   / (36.0e0 * agg.n * (agg.n - 1.0e0) * (agg.n - 2.0e0))"
               " + agg.sg2 * 1.0e0 * agg.st2"
               "   / (8.0e0 * agg.n * (agg.n - 1.0e0)))", 6)} AS z
    FROM u2 CROSS JOIN agg
    """


@query("stats_jonckheere", oracle=_jt_oracle())
def stats_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — JONCKHEERE–TERPSTRA ordered-alternative trend test:
    does line-item quantity drift monotonically across the ORDERED
    priority classes 1-URGENT → 5-LOW?  J = Σ_{{g<h}} U_gh (pairwise
    Mann–Whitney counts between ordered groups), E[J] = (N²−Σn_g²)/4,
    with the Hollander–Wolfe tie-corrected variance — the trend-aware
    alternative to Kruskal–Wallis when the alternative is "monotone in
    g", which doubles its power against ordered drift.

    Exactness: 2J is an exact int64 from the VALUE-CELL construction
    (groups × the 50-value quantity domain → ≤ 250 cells; the pairwise
    scan is cells², never rows²); every variance ingredient is an
    integer sum over group sizes / tie multiplicities.

    100 TB: one scan to cells; the cells² fold is domain-bounded
    (|groups|·|value domain|)² — independent of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    v = li.join(
        F.broadcast(orders.select("o_orderkey", "o_orderpriority")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    cell = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    cell = cell.localCheckpoint(eager=False)  # pairwise + margins
    a, b = cell.alias("a"), cell.alias("b")
    u2 = (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .agg(
            F.sum(
                F.when(
                    F.col("a.x") < F.col("b.x"),
                    F.lit(2) * F.col("a.c") * F.col("b.c"),
                )
                .when(F.col("a.x") == F.col("b.x"), F.col("a.c") * F.col("b.c"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("j2")
        )
    )
    gs = cell.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    ts = cell.groupBy("x").agg(F.sum("c").cast("long").alias("tv"))
    agg = (
        gs.agg(
            F.sum("ng").cast("long").alias("n"),
            F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
            F.sum(F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5))
            .cast("long")
            .alias("sg5"),
            F.sum(F.col("ng") * (F.col("ng") - 1) * (F.col("ng") - 2))
            .cast("long")
            .alias("sg3"),
            F.sum(F.col("ng") * (F.col("ng") - 1)).cast("long").alias("sg2"),
        )
        .crossJoin(
            ts.agg(
                F.sum(F.col("tv") * (F.col("tv") - 1) * (2 * F.col("tv") + 5))
                .cast("long")
                .alias("st5"),
                F.sum(F.col("tv") * (F.col("tv") - 1) * (F.col("tv") - 2))
                .cast("long")
                .alias("st3"),
                F.sum(F.col("tv") * (F.col("tv") - 1)).cast("long").alias("st2"),
            )
        )
    )
    nf = F.col("n") * F.lit(1.0)
    var_j = (
        (nf * (nf - 1.0) * (2.0 * nf + 5.0) - F.col("sg5") - F.col("st5"))
        / F.lit(72.0)
        + F.col("sg3") * F.lit(1.0) * F.col("st3")
        / (F.lit(36.0) * nf * (nf - 1.0) * (nf - 2.0))
        + F.col("sg2") * F.lit(1.0) * F.col("st2")
        / (F.lit(8.0) * nf * (nf - 1.0))
    )
    e_j = (nf * nf - F.col("sn2")) / F.lit(4.0)
    j = F.col("j2") / F.lit(2.0)
    return u2.crossJoin(F.broadcast(agg)).select(
        F.col("n").alias("n"),
        roundn(j / F.lit(1.0), 1).alias("j_stat"),
        roundn(e_j / F.lit(1.0), 1).alias("e_j"),
        # var_j is O(n**3): any floor-based quantization overflows the
        # int64 floor at scale, so it ships as the raw double — both
        # engines compute the identical IEEE sequence from exact ints
        var_j.alias("var_j"),
        roundn((j - e_j) / F.sqrt(var_j), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_brunner_munzel + stats_cliffs_delta (shared en/de rank cells)
# ---------------------------------------------------------------------------

_BM_G1, _BM_G2 = "de", "en"


def _bm_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT lang AS g, n_chars AS x FROM documents
        WHERE lang IN ('{_BM_G1}', '{_BM_G2}')),
    dv AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
    rk AS (
        SELECT x, cnt,
               2 * (SUM(cnt) OVER (ORDER BY x
                        ROWS UNBOUNDED PRECEDING) - cnt) + cnt + 1 AS r2
        FROM dv),
    cell AS (
        SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    wrk AS (
        SELECT g, x, c,
               2 * (SUM(c) OVER (PARTITION BY g ORDER BY x
                        ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS rw2
        FROM cell),
    grp AS (
        SELECT wrk.g,
               CAST(SUM(wrk.c) AS BIGINT) AS ng,
               CAST(SUM(wrk.c * rk.r2) AS BIGINT) AS sr2,
               CAST(SUM(wrk.c * (rk.r2 - wrk.rw2)) AS BIGINT) AS sd2,
               CAST(SUM(wrk.c * (rk.r2 - wrk.rw2) * (rk.r2 - wrk.rw2))
                    AS BIGINT) AS sd2sq
        FROM wrk JOIN rk ON wrk.x = rk.x
        GROUP BY 1),
    fit AS (
        SELECT g1.ng AS n1, g2.ng AS n2,
               g1.sr2 / (2.0e0 * g1.ng) AS rb1,
               g2.sr2 / (2.0e0 * g2.ng) AS rb2,
               (g1.sd2sq - g1.sd2 * 1.0e0 * g1.sd2 / g1.ng)
                   / (4.0e0 * (g1.ng - 1.0e0)) AS s1,
               (g2.sd2sq - g2.sd2 * 1.0e0 * g2.sd2 / g2.ng)
                   / (4.0e0 * (g2.ng - 1.0e0)) AS s2
        FROM (SELECT * FROM grp WHERE g = '{_BM_G1}') g1
        CROSS JOIN (SELECT * FROM grp WHERE g = '{_BM_G2}') g2)
    SELECT n1, n2,
           {sql_roundn("(rb2 - (n2 + 1.0e0) / 2.0e0) / n1", 6)} AS p_hat,
           {sql_roundn(
               "n1 * n2 * (rb2 - rb1) / ((n1 + n2)"
               " * sqrt(n1 * s1 + n2 * s2))", 6)} AS w_bm
    FROM fit
    """


@query("stats_brunner_munzel", oracle=_bm_oracle())
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — BRUNNER–MUNZEL two-sample rank test (de vs en
    document lengths): tests P(X<Y)+½P(X=Y) = ½ WITHOUT Mann–Whitney's
    equal-variance-of-rank assumption — the correct default when the
    two corpora have different length spreads, which different-language
    slices always do.  W = n₁n₂(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁²+n₂S₂²)),
    Sᵢ² the variance of (combined − within-group) midranks; p̂ =
    (R̄₂−(n₂+1)/2)/n₁ is the stochastic-superiority estimate.

    Exactness: combined and within-group 2×midranks are exact integers
    from the value-cell construction; Sᵢ² uses the ΣD²−(ΣD)²/n exact
    integer decomposition — every double op from exact ints, identical
    sequence both engines.

    100 TB: value-cell relations are |domain| ≤ chars-domain rows; the
    cumulative windows run over distinct VALUES (domain-bounded), not
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.filter(F.col("lang").isin(_BM_G1, _BM_G2)).select(
        F.col("lang").alias("g"), F.col("n_chars").alias("x")
    )
    v = v.localCheckpoint(eager=False)
    dv = v.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    rk = dv.select(
        "x",
        (
            F.lit(2) * (F.sum("cnt").over(wv) - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        ).alias("r2"),
    )
    cell = v.groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    wg = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wrk = cell.select(
        "g",
        "x",
        "c",
        (
            F.lit(2) * (F.sum("c").over(wg) - F.col("c"))
            + F.col("c")
            + F.lit(1)
        ).alias("rw2"),
    )
    d2 = F.col("r2") - F.col("rw2")
    grp = (
        wrk.join(F.broadcast(rk), "x")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("sr2"),
            F.sum(F.col("c") * d2).cast("long").alias("sd2"),
            F.sum(F.col("c") * d2 * d2).cast("long").alias("sd2sq"),
        )
    )
    g1 = grp.filter(F.col("g") == _BM_G1).select(
        F.col("ng").alias("n1"),
        (F.col("sr2") / (F.lit(2.0) * F.col("ng"))).alias("rb1"),
        (
            (F.col("sd2sq") - F.col("sd2") * F.lit(1.0) * F.col("sd2") / F.col("ng"))
            / (F.lit(4.0) * (F.col("ng") - F.lit(1.0)))
        ).alias("s1"),
    )
    g2 = grp.filter(F.col("g") == _BM_G2).select(
        F.col("ng").alias("n2"),
        (F.col("sr2") / (F.lit(2.0) * F.col("ng"))).alias("rb2"),
        (
            (F.col("sd2sq") - F.col("sd2") * F.lit(1.0) * F.col("sd2") / F.col("ng"))
            / (F.lit(4.0) * (F.col("ng") - F.lit(1.0)))
        ).alias("s2"),
    )
    fit = g1.crossJoin(F.broadcast(g2))
    return fit.select(
        "n1",
        "n2",
        roundn(
            (F.col("rb2") - (F.col("n2") + F.lit(1.0)) / F.lit(2.0))
            / F.col("n1"),
            6,
        ).alias("p_hat"),
        roundn(
            F.col("n1")
            * F.col("n2")
            * (F.col("rb2") - F.col("rb1"))
            / (
                (F.col("n1") + F.col("n2"))
                * F.sqrt(
                    F.col("n1") * F.col("s1") + F.col("n2") * F.col("s2")
                )
            ),
            6,
        ).alias("w_bm"),
    )


def _cliffs_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT lang AS g, n_chars AS x FROM documents
        WHERE lang IN ('{_BM_G1}', '{_BM_G2}')),
    c1 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v
           WHERE g = '{_BM_G1}' GROUP BY 1),
    c2 AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v
           WHERE g = '{_BM_G2}' GROUP BY 1),
    num AS (
        SELECT CAST(SUM(CASE WHEN c1.x > c2.x THEN c1.c * c2.c
                             WHEN c1.x < c2.x THEN -c1.c * c2.c
                             ELSE 0 END) AS BIGINT) AS s
        FROM c1 CROSS JOIN c2),
    ns AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM c1) AS n1,
               (SELECT CAST(SUM(c) AS BIGINT) FROM c2) AS n2)
    SELECT ns.n1, ns.n2,
           {sql_roundn("num.s * 1.0e0 / (ns.n1 * 1.0e0 * ns.n2)", 6)}
               AS cliffs_delta,
           CASE
               WHEN ABS({sql_roundn(
                   "num.s * 1.0e0 / (ns.n1 * 1.0e0 * ns.n2)", 6)})
                   < 0.147e0 THEN 'negligible'
               WHEN ABS({sql_roundn(
                   "num.s * 1.0e0 / (ns.n1 * 1.0e0 * ns.n2)", 6)})
                   < 0.33e0 THEN 'small'
               WHEN ABS({sql_roundn(
                   "num.s * 1.0e0 / (ns.n1 * 1.0e0 * ns.n2)", 6)})
                   < 0.474e0 THEN 'medium'
               ELSE 'large'
           END AS magnitude
    FROM num CROSS JOIN ns
    """


@query("stats_cliffs_delta", oracle=_cliffs_oracle())
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — CLIFF'S DELTA ordinal effect size for the same
    de-vs-en length comparison the Brunner–Munzel test judges:
    δ = [#(x₁>x₂) − #(x₁<x₂)]/(n₁n₂) ∈ [−1, 1] — the
    distribution-free effect size that should accompany every rank
    test verdict (Romano et al. thresholds: 0.147 / 0.33 / 0.474).

    Exactness: the dominance sum is an exact int64 over the value-cell
    cross (|domain|² cells, not rows²); δ quantizes once at 6 dp and
    the magnitude label derives from the QUANTIZED value so both
    engines bucket identically.

    100 TB: value-cell construction — row count only affects the cell
    COUNTS; the fold is domain-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.filter(F.col("lang").isin(_BM_G1, _BM_G2)).select(
        F.col("lang").alias("g"), F.col("n_chars").alias("x")
    )
    c1 = (
        v.filter(F.col("g") == _BM_G1)
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("c"))
    )
    c2 = (
        v.filter(F.col("g") == _BM_G2)
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("c"))
    )
    a, b = c1.alias("a"), c2.alias("b")
    num = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(F.col("a.x") > F.col("b.x"), F.col("a.c") * F.col("b.c"))
            .when(F.col("a.x") < F.col("b.x"), -F.col("a.c") * F.col("b.c"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("s")
    )
    ns = c1.agg(F.sum("c").cast("long").alias("n1")).crossJoin(
        c2.agg(F.sum("c").cast("long").alias("n2"))
    )
    delta_q = roundn(
        F.col("s") * F.lit(1.0) / (F.col("n1") * F.lit(1.0) * F.col("n2")), 6
    )
    return num.crossJoin(F.broadcast(ns)).select(
        "n1",
        "n2",
        delta_q.alias("cliffs_delta"),
        F.when(F.abs(delta_q) < 0.147, F.lit("negligible"))
        .when(F.abs(delta_q) < 0.33, F.lit("small"))
        .when(F.abs(delta_q) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# stats_bartlett
# ---------------------------------------------------------------------------


def _bartlett_oracle() -> str:
    return f"""
    WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS x
               FROM documents),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM v GROUP BY 1),
    gv AS (
        SELECT g, ng,
               (ng * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx)
                   * 1.0e0 / (ng * 1.0e0 * ng * (ng - 1.0e0)) AS s2
        FROM grp),
    fit AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM((ng - 1.0e0) * s2) AS ssw,
               CAST(SUM(CAST(FLOOR((ng - 1.0e0) * ln(s2)
                   * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS slnq,
               SUM(1.0e0 / (ng - 1.0e0)) AS sinv
        FROM gv)
    SELECT gv.g AS lang, gv.ng AS n_g,
           {sql_roundn("gv.s2", 4)} AS var_g,
           fit.k AS k, fit.k - 1 AS df,
           {sql_roundn(
               "((fit.n - fit.k) * ln(fit.ssw / (fit.n - fit.k))"
               " - fit.slnq / 1000000.0e0)"
               " / (1.0e0 + (fit.sinv - 1.0e0 / (fit.n - fit.k))"
               "   / (3.0e0 * (fit.k - 1.0e0)))", 6)} AS t_bartlett
    FROM gv CROSS JOIN fit
    ORDER BY lang
    """


@query("stats_bartlett", oracle=_bartlett_oracle())
def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — BARTLETT'S equality-of-variances test across the
    k = 5 language groups' document lengths: T = [(N−k)·ln s_p² −
    Σ(n_g−1)·ln s_g²] / C with the standard correction C — the
    parametric (normal-theory) sibling of the robust Levene/
    Brown–Forsythe key (stats_levene_bf); running both is the standard
    variance-homogeneity workup before any pooled-variance ANOVA.

    Exactness: each group variance is the exact rational
    (n·Σx²−(Σx)²)/(n²(n−1)) via DECIMAL/HUGEINT cross products (the
    ts_twap idiom — no int64 overflow at any SF); the Σ(n_g−1)ln s_g²
    term quantizes per group to 1e-6 units and int-sums; the pooled
    term is k-row state.

    100 TB: one scan, one groupBy to k rows; everything after is
    k-row state."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(F.col("lang").alias("g"), F.col("n_chars").cast("long").alias("x"))
    grp = v.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    s2 = (
        (
            F.col("ng").cast("decimal(38,0)") * F.col("sxx").cast("decimal(38,0)")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx").cast("decimal(38,0)")
        ).cast("double")
        * F.lit(1.0)
        / (F.col("ng") * F.lit(1.0) * F.col("ng") * (F.col("ng") - F.lit(1.0)))
    )
    gv = grp.select("g", "ng", s2.alias("s2"))
    gv = gv.localCheckpoint(eager=False)  # per-group rows + fit
    fit = gv.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum((F.col("ng") - F.lit(1.0)) * F.col("s2")).alias("ssw"),
        F.sum(
            F.floor(
                (F.col("ng") - F.lit(1.0)) * F.log("s2") * F.lit(1.0e6)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("slnq"),
        F.sum(F.lit(1.0) / (F.col("ng") - F.lit(1.0))).alias("sinv"),
    )
    nk = F.col("n") - F.col("k")
    t = (
        nk * F.log(F.col("ssw") / nk) - F.col("slnq") / F.lit(1.0e6)
    ) / (
        F.lit(1.0)
        + (F.col("sinv") - F.lit(1.0) / nk)
        / (F.lit(3.0) * (F.col("k") - F.lit(1.0)))
    )
    return (
        gv.crossJoin(F.broadcast(fit))
        .select(
            F.col("g").alias("lang"),
            F.col("ng").alias("n_g"),
            roundn(F.col("s2"), 4).alias("var_g"),
            F.col("k").alias("k"),
            (F.col("k") - 1).alias("df"),
            roundn(t / F.lit(1.0), 6).alias("t_bartlett"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# stats_odds_ratio
# ---------------------------------------------------------------------------

_OR_Z95 = 1.959963984540054


def _or_oracle() -> str:
    return f"""
    WITH cnt AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ne,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS np
        FROM events GROUP BY 1),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(ne) AS BIGINT) AS te,
               CAST(SUM(np) AS BIGINT) AS tp
        FROM cnt),
    u AS (
        SELECT CASE WHEN cnt.ne * tot.u > tot.te THEN 1 ELSE 0 END
                   AS exposed,
               CASE WHEN cnt.np * tot.u > tot.tp THEN 1 ELSE 0 END
                   AS outcome
        FROM cnt CROSS JOIN tot),
    tab AS (
        SELECT CAST(SUM(exposed * outcome) AS BIGINT) AS a,
               CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
               CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
               CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
        FROM u)
    SELECT a, b, c, d,
           {sql_roundn("a * 1.0e0 * d / (b * 1.0e0 * c)", 6)} AS odds_ratio,
           {sql_roundn("ln(a * 1.0e0 * d / (b * 1.0e0 * c))", 6)} AS log_or,
           {sql_roundn(
               "sqrt(1.0e0/a + 1.0e0/b + 1.0e0/c + 1.0e0/d)", 6)} AS se_log_or,
           {sql_roundn(
               f"exp(ln(a * 1.0e0 * d / (b * 1.0e0 * c))"
               f" - {_OR_Z95}e0 * sqrt(1.0e0/a + 1.0e0/b + 1.0e0/c"
               f" + 1.0e0/d))", 6)} AS ci95_lo,
           {sql_roundn(
               f"exp(ln(a * 1.0e0 * d / (b * 1.0e0 * c))"
               f" + {_OR_Z95}e0 * sqrt(1.0e0/a + 1.0e0/b + 1.0e0/c"
               f" + 1.0e0/d))", 6)} AS ci95_hi,
           {sql_roundn(
               "(a * 1.0e0 / (a + b)) / (c * 1.0e0 / (c + d))", 6)}
               AS relative_risk
    FROM tab
    """


@query("stats_odds_ratio", oracle=_or_oracle())
def stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — 2×2 ODDS RATIO with Woolf confidence interval:
    do users with an above-mean 'error' rate convert ('purchase' above
    the mean) at different odds?  OR = ad/bc over the exposed×outcome
    user table, SE(ln OR) = √(1/a+1/b+1/c+1/d), CI95 = exp(ln OR ±
    z·SE), plus the relative risk — the epidemiology-standard readout
    the experimentation tier (ab_effect_sizes) delegates to for binary
    × binary designs.  Exposure/outcome dichotomize at the GLOBAL MEAN
    via the exact integer comparison n_u·U > Σn (never a float mean),
    which keeps the 2×2 non-degenerate at every SF.

    Exactness: cell counts are exact; every derived value is one
    documented double expression from the four ints, quantized at 6 dp
    with the shared floor idiom.

    100 TB: one scan, one user-grain groupBy, 1-row broadcast of the
    totals, 1-row fold."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("ne"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("np"),
    )
    cnt = cnt.localCheckpoint(eager=False)  # totals + per-user flags
    tot = cnt.agg(
        F.count("*").cast("long").alias("u"),
        F.sum("ne").cast("long").alias("te"),
        F.sum("np").cast("long").alias("tp"),
    )
    u = cnt.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("ne") * F.col("u") > F.col("te"), 1)
        .otherwise(0)
        .alias("exposed"),
        F.when(F.col("np") * F.col("u") > F.col("tp"), 1)
        .otherwise(0)
        .alias("outcome"),
    )
    tab = u.agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("long").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome")))
        .cast("long")
        .alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome"))
        .cast("long")
        .alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("long")
        .alias("d"),
    )
    orr = F.col("a") * F.lit(1.0) * F.col("d") / (
        F.col("b") * F.lit(1.0) * F.col("c")
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c")
        + F.lit(1.0) / F.col("d")
    )
    return tab.select(
        "a",
        "b",
        "c",
        "d",
        roundn(orr / F.lit(1.0), 6).alias("odds_ratio"),
        roundn(F.log(orr), 6).alias("log_or"),
        roundn(se / F.lit(1.0), 6).alias("se_log_or"),
        roundn(F.exp(F.log(orr) - F.lit(_OR_Z95) * se), 6).alias("ci95_lo"),
        roundn(F.exp(F.log(orr) + F.lit(_OR_Z95) * se), 6).alias("ci95_hi"),
        roundn(
            (F.col("a") * F.lit(1.0) / (F.col("a") + F.col("b")))
            / (F.col("c") * F.lit(1.0) / (F.col("c") + F.col("d"))),
            6,
        ).alias("relative_risk"),
    )
