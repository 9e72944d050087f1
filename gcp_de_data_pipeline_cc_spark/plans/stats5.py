"""Round-8 wave: k-sample and repeated-measures rank tests.

* ``stats_kruskal_wallis`` — the k-sample extension of Mann–Whitney
  (hypothesis_mannwhitney): one-way ANOVA on ranks with the exact
  average-rank tie construction and tie-corrected H.
* ``stats_cochran_q`` — Cochran's Q: the k-treatment extension of
  McNemar (hypothesis_mcnemar) for BINARY outcomes over matched blocks;
  the binary sibling of Friedman (stats_friedman).
* ``stats_page_trend`` — Page's L: Friedman's test against an ORDERED
  alternative (monotone trend across treatments), the right test when
  the question is "is it monotonically drifting", not "is anything
  different".

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) contains no statistics engine;
these derive from the driver's analytics mandate on public formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48, u48
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# stats_kruskal_wallis
# ---------------------------------------------------------------------------


def _kw_oracle() -> str:
    return f"""
    WITH v AS (SELECT lang, n_chars AS x FROM documents),
    dv AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY x),
    rk AS (
        SELECT x,
               cnt,
               2 * (SUM(cnt) OVER (ORDER BY x
                        ROWS UNBOUNDED PRECEDING) - cnt) + cnt + 1 AS r2
        FROM dv),
    cell AS (
        SELECT v.lang, v.x, CAST(COUNT(*) AS BIGINT) AS n_lv
        FROM v GROUP BY 1, 2),
    grp AS (
        SELECT cell.lang,
               CAST(SUM(cell.n_lv) AS BIGINT) AS n_g,
               CAST(SUM(cell.n_lv * rk.r2) AS BIGINT) AS s2_g
        FROM cell JOIN rk ON rk.x = cell.x
        GROUP BY 1),
    tie AS (
        SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t3
        FROM dv),
    fit AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(s2_g * 1.0e0 * s2_g / (4.0e0 * n_g)
                                   * 10000.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS hq
        FROM grp)
    SELECT grp.lang,
           grp.n_g AS n,
           {sql_roundn("grp.s2_g / (2.0e0 * grp.n_g) / 1.0e0", 4)}
               AS mean_rank,
           {sql_roundn(
               "(12.0e0 / (fit.n * (fit.n + 1.0e0)) * (fit.hq / 10000.0e0)"
               " - 3.0e0 * (fit.n + 1.0e0)) / 1.0e0", 6)} AS h_stat,
           {sql_roundn(
               "(12.0e0 / (fit.n * (fit.n + 1.0e0)) * (fit.hq / 10000.0e0)"
               " - 3.0e0 * (fit.n + 1.0e0))"
               " / (1.0e0 - tie.t3 * 1.0e0"
               "     / (fit.n * 1.0e0 * fit.n * fit.n - fit.n))", 6)}
               AS h_tie_corrected
    FROM grp CROSS JOIN fit CROSS JOIN tie
    ORDER BY grp.lang
    """


@query("stats_kruskal_wallis", oracle=_kw_oracle())
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — KRUSKAL–WALLIS one-way rank ANOVA: do the k = 5
    language groups draw document lengths (n_chars) from the same
    distribution?  H = 12/(N(N+1))·Σ_g S_g²/n_g − 3(N+1) on average
    ranks, with the tie correction H/(1 − Σ(t³−t)/(N³−N)) — the
    k-sample extension of Mann–Whitney and the distribution-free
    alternative to one-way ANOVA (hypothesis_anova) when lengths are
    heavy-tailed, which web-corpus lengths always are.

    Exactness: 2× average ranks are exact INTEGERS from the value-level
    construction 2·(#smaller)+(#equal)+1 (one groupBy(value) + one
    cumulative window over distinct values — never a row-grain sort
    join); per-group S_g²/(4n_g) quantizes ONCE to 1e-4 units and
    int-sums across groups (order-free); the tie term Σ(t³−t) is an
    exact int64.

    100 TB: value-level ranking means the rank relation is
    |distinct lengths|, not |docs|; the cumulative window over distinct
    values is domain-bounded (n_chars domain), and the final fit is
    5-row state."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select("lang", F.col("n_chars").alias("x"))
    dv = v.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    rk = dv.select(
        "x",
        "cnt",
        (
            F.lit(2) * (F.sum("cnt").over(wv) - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        ).alias("r2"),
    )
    cell = v.groupBy("lang", "x").agg(F.count("*").cast("long").alias("n_lv"))
    grp = (
        cell.join(F.broadcast(rk), "x")
        .groupBy("lang")
        .agg(
            F.sum("n_lv").cast("long").alias("n_g"),
            F.sum(F.col("n_lv") * F.col("r2")).cast("long").alias("s2_g"),
        )
    )
    grp = grp.localCheckpoint(eager=False)  # fit + readout
    tie = dv.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("t3")
    )
    fit = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col("s2_g")
                * F.lit(1.0)
                * F.col("s2_g")
                / (F.lit(4.0) * F.col("n_g"))
                * F.lit(10000.0)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("hq"),
    )
    h = (
        F.lit(12.0) / (F.col("n") * (F.col("n") + F.lit(1.0)))
        * (F.col("hq") / F.lit(10000.0))
        - F.lit(3.0) * (F.col("n") + F.lit(1.0))
    )
    c = F.lit(1.0) - F.col("t3") * F.lit(1.0) / (
        F.col("n") * F.lit(1.0) * F.col("n") * F.col("n") - F.col("n")
    )
    return (
        grp.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(tie))
        .select(
            "lang",
            F.col("n_g").alias("n"),
            roundn(F.col("s2_g") / (F.lit(2.0) * F.col("n_g")) / F.lit(1.0), 4)
            .alias("mean_rank"),
            roundn(h / F.lit(1.0), 6).alias("h_stat"),
            roundn(h / c, 6).alias("h_tie_corrected"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# stats_cochran_q
# ---------------------------------------------------------------------------

#: chi-square 0.05 critical values by degrees of freedom (df = k-1)
_CHI2_CRIT_CASE = (
    "CASE df WHEN 4 THEN 9.487729e0 WHEN 5 THEN 11.070498e0"
    " WHEN 6 THEN 12.591587e0 WHEN 7 THEN 14.067140e0"
    " WHEN 8 THEN 15.507313e0 ELSE 0.0e0 END"
)


def _cochran_oracle() -> str:
    return f"""
    WITH cell AS (
        SELECT n.n_name AS block, o.o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS bips,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2),
    tot AS (
        SELECT CAST(SUM(bips) AS BIGINT) AS tb,
               CAST(SUM(n) AS BIGINT) AS tn
        FROM cell),
    kk AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS k FROM cell),
    full_blocks AS (
        SELECT block FROM cell CROSS JOIN kk
        GROUP BY block, kk.k HAVING COUNT(*) = ANY_VALUE(kk.k)),
    x AS (
        SELECT cell.block, cell.trt,
               CASE WHEN cell.bips * tot.tn > tot.tb * cell.n
                    THEN 1 ELSE 0 END AS xij
        FROM cell JOIN full_blocks USING (block) CROSS JOIN tot),
    cols AS (
        SELECT trt, CAST(SUM(xij) AS BIGINT) AS cj FROM x GROUP BY 1),
    rows_ AS (
        SELECT block, CAST(SUM(xij) AS BIGINT) AS ri FROM x GROUP BY 1),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS b,
               (SELECT k FROM kk) AS k,
               (SELECT CAST(SUM(cj) AS BIGINT) FROM cols) AS t,
               (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM cols) AS c2,
               (SELECT CAST(SUM(ri * ri) AS BIGINT) FROM rows_) AS r2),
    q AS (
        SELECT b, k, t, k - 1 AS df,
               (k - 1.0e0) * (k * c2 - t * 1.0e0 * t)
                   / (k * 1.0e0 * t - r2) AS qs
        FROM s)
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
           CAST(t AS BIGINT) AS total_hits, CAST(df AS BIGINT) AS df,
           {sql_roundn("qs / 1.0e0", 6)} AS q_stat,
           qs > {_CHI2_CRIT_CASE} AS reject_05
    FROM q
    """


@query("stats_cochran_q", oracle=_cochran_oracle())
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — COCHRAN'S Q: k-treatment test for BINARY outcomes
    over matched blocks (the k-sample extension of McNemar, the binary
    sibling of Friedman).  Blocks are the 25 customer nations,
    treatments the order priorities, and the binary outcome is the
    deterministic derivation "does this (nation, priority) cell price
    above the global average" (cross-multiplied — no division).  Q = (k−1)(kΣC_j² − T²)
    / (kT − ΣR_i²) ~ χ²(k−1) under exchangeable treatments; blocks
    missing a treatment drop out (complete-design requirement, same
    rule both engines).

    Exactness: price snaps to integer cents per row; the
    above-average rule is an integer cross-product comparison; Q is
    integer sums with ONE final division; the rejection flag compares
    against the fixed χ²₀.₀₅ critical value for the data-derived df.

    100 TB: one fact-scan groupBy to (nation, priority) cells — 25×5
    domain rows; everything after is constant-size state."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cell = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("block"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("bips"),
            F.count("*").cast("long").alias("n"),
        )
    )
    cell = cell.localCheckpoint(eager=False)  # tot + k + blocks + x
    tot = cell.agg(
        F.sum("bips").cast("long").alias("tb"),
        F.sum("n").cast("long").alias("tn"),
    )
    kk = cell.agg(F.countDistinct("trt").cast("long").alias("k"))
    full_blocks = (
        cell.crossJoin(F.broadcast(kk))
        .groupBy("block")
        .agg(
            F.count("*").alias("nt"), F.any_value("k").alias("k")
        )
        .filter(F.col("nt") == F.col("k"))
        .select("block")
    )
    x = (
        cell.join(F.broadcast(full_blocks), "block", "left_semi")
        .crossJoin(F.broadcast(tot))
        .select(
            "block",
            "trt",
            F.when(
                F.col("bips") * F.col("tn") > F.col("tb") * F.col("n"), 1
            )
            .otherwise(0)
            .alias("xij"),
        )
    )
    x = x.localCheckpoint(eager=False)  # cols + rows
    cols = x.groupBy("trt").agg(F.sum("xij").cast("long").alias("cj"))
    rows = x.groupBy("block").agg(F.sum("xij").cast("long").alias("ri"))
    s = (
        rows.agg(
            F.count("*").cast("long").alias("b"),
            F.sum(F.col("ri") * F.col("ri")).cast("long").alias("r2"),
        )
        .crossJoin(
            F.broadcast(
                cols.agg(
                    F.sum("cj").cast("long").alias("t"),
                    F.sum(F.col("cj") * F.col("cj")).cast("long").alias("c2"),
                )
            )
        )
        .crossJoin(F.broadcast(kk))
    )
    qs = (
        (F.col("k") - F.lit(1.0))
        * (F.col("k") * F.col("c2") - F.col("t") * F.lit(1.0) * F.col("t"))
        / (F.col("k") * F.lit(1.0) * F.col("t") - F.col("r2"))
    )
    crit = (
        F.when(F.col("df") == 4, F.lit(9.487729))
        .when(F.col("df") == 5, F.lit(11.070498))
        .when(F.col("df") == 6, F.lit(12.591587))
        .when(F.col("df") == 7, F.lit(14.067140))
        .when(F.col("df") == 8, F.lit(15.507313))
        .otherwise(F.lit(0.0))
    )
    return s.withColumn("df", (F.col("k") - 1).cast("long")).select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.col("t").alias("total_hits"),
        "df",
        roundn(qs / F.lit(1.0), 6).alias("q_stat"),
        (qs > crit).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# stats_page_trend
# ---------------------------------------------------------------------------

#: treatment spine: complete order years (2001 is a partial year in the
#: synthetic feed and is excluded so every block can be complete)
_PAGE_Y0, _PAGE_Y1 = 1995, 2000


def _page_oracle() -> str:
    m = _PAGE_Y1 - _PAGE_Y0 + 1
    return f"""
    WITH rev AS (
        SELECT n.n_name AS block,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE EXTRACT(year FROM o.o_orderdate)
              BETWEEN {_PAGE_Y0} AND {_PAGE_Y1}
        GROUP BY 1, 2),
    full_blocks AS (
        SELECT block FROM rev GROUP BY block HAVING COUNT(*) = {m}),
    rk AS (
        SELECT rev.block, rev.yr - {_PAGE_Y0} + 1 AS y,
               2 * (RANK() OVER (PARTITION BY rev.block
                                 ORDER BY rev.cents) - 1)
                   + COUNT(*) OVER (PARTITION BY rev.block, rev.cents)
                   + 1 AS r2
        FROM rev JOIN full_blocks USING (block)),
    s AS (
        SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS b,
               CAST(SUM(y * r2) AS BIGINT) AS l2
        FROM rk)
    SELECT b AS n_blocks, CAST({m} AS BIGINT) AS m_treatments,
           {sql_roundn("l2 / 2.0e0 / 1.0e0", 1)} AS l_stat,
           {sql_roundn(
               f"(l2 - b * {m} * ({m} + 1.0e0) * ({m} + 1.0e0) / 2.0e0)"
               f" / (2.0e0 * sqrt(b * {m} * 1.0e0 * {m} * ({m} + 1.0e0)"
               f"     * ({m} * 1.0e0 * {m} - 1.0e0) / 144.0e0))", 4)} AS z
    FROM s
    """


@query("stats_page_trend", oracle=_page_oracle())
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — PAGE'S L trend test: Friedman against the ORDERED
    alternative.  Blocks are nations, treatments the complete order
    years {y0}–{y1} in calendar order, measure is annual revenue; L =
    Σ_j j·R_j over within-block ranks is maximal when every block
    ranks the years monotonically — the right test for "is revenue
    drifting UP year over year", where Friedman only answers "do the
    years differ".  z standardizes with E[L] = b·m(m+1)²/4 and
    Var[L] = b·m²(m+1)(m²−1)/144 (no-tie variance, the standard
    normal approximation).

    Exactness: revenue snaps to integer cents per order; 2× average
    ranks are exact integers (RANK + tie-count construction), so 2L is
    an exact int64 and both readouts are one final expression.

    100 TB: one fact-scan groupBy to (nation, year) — 25×6 domain rows;
    ranking windows partition per block over 6-row state."""
    m = _PAGE_Y1 - _PAGE_Y0 + 1
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.filter(
            F.year("o_orderdate").between(_PAGE_Y0, _PAGE_Y1)
        )
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("block"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    rev = rev.localCheckpoint(eager=False)  # completeness + ranks
    full_blocks = (
        rev.groupBy("block").agg(F.count("*").alias("ny"))
        .filter(F.col("ny") == m)
        .select("block")
    )
    wb = Window.partitionBy("block").orderBy("cents")
    we = Window.partitionBy("block", "cents")
    rk = rev.join(F.broadcast(full_blocks), "block", "left_semi").select(
        "block",
        (F.col("yr") - F.lit(_PAGE_Y0) + 1).alias("y"),
        (
            F.lit(2) * (F.rank().over(wb) - 1)
            + F.count("*").over(we)
            + F.lit(1)
        ).alias("r2"),
    )
    s = rk.agg(
        F.countDistinct("block").cast("long").alias("b"),
        F.sum(F.col("y") * F.col("r2")).cast("long").alias("l2"),
    )
    mf = float(m)
    ez2 = F.col("b") * F.lit(mf) * F.lit(mf + 1.0) * F.lit(mf + 1.0) / F.lit(2.0)
    var = (
        F.col("b")
        * F.lit(mf)
        * F.lit(1.0)
        * F.lit(mf)
        * F.lit(mf + 1.0)
        * (F.lit(mf) * F.lit(1.0) * F.lit(mf) - F.lit(1.0))
        / F.lit(144.0)
    )
    return s.select(
        F.col("b").alias("n_blocks"),
        F.lit(m).cast("long").alias("m_treatments"),
        roundn(F.col("l2") / F.lit(2.0) / F.lit(1.0), 1).alias("l_stat"),
        roundn(
            (F.col("l2") - ez2) / (F.lit(2.0) * F.sqrt(var)), 4
        ).alias("z"),
    )


stats_page_trend.__doc__ = stats_page_trend.__doc__.format(
    y0=_PAGE_Y0, y1=_PAGE_Y1
)


# ---------------------------------------------------------------------------
# stats_kendall_w
# ---------------------------------------------------------------------------


def _kendall_w_oracle() -> str:
    return f"""
    WITH cell AS (
        SELECT n.n_name AS block, o.o_orderpriority AS trt,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2),
    kk AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS m FROM cell),
    full_blocks AS (
        SELECT block FROM cell CROSS JOIN kk
        GROUP BY block, kk.m HAVING COUNT(*) = ANY_VALUE(kk.m)),
    rk AS (
        SELECT cell.block, cell.trt,
               2 * (RANK() OVER (PARTITION BY cell.block
                                 ORDER BY cell.cents) - 1)
                   + COUNT(*) OVER (PARTITION BY cell.block, cell.cents)
                   + 1 AS r2
        FROM cell JOIN full_blocks USING (block)),
    ties AS (
        SELECT block, CAST(SUM(t * t * t - t) AS BIGINT) AS ti
        FROM (SELECT block, cents, CAST(COUNT(*) AS BIGINT) AS t
              FROM cell JOIN full_blocks USING (block)
              GROUP BY 1, 2)
        GROUP BY block),
    colsum AS (
        SELECT trt, CAST(SUM(r2) AS BIGINT) AS rs2 FROM rk GROUP BY 1),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM full_blocks) AS b,
               (SELECT m FROM kk) AS m,
               (SELECT CAST(SUM(rs2 * rs2) AS BIGINT) FROM colsum) AS ss4,
               (SELECT CAST(SUM(ti) AS BIGINT) FROM ties) AS t_all),
    w AS (
        SELECT b, m,
               (12.0e0 * (ss4 / 4.0e0)
                - 3.0e0 * b * b * m * (m + 1.0e0) * (m + 1.0e0))
               / (b * 1.0e0 * b * m * (m * 1.0e0 * m - 1.0e0)
                  - b * 1.0e0 * t_all) AS ws
        FROM s)
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(m AS BIGINT) AS m_items,
           {sql_roundn("ws / 1.0e0", 6)} AS kendall_w,
           {sql_roundn("b * (m - 1.0e0) * ws / 1.0e0", 6)} AS chi2
    FROM w
    """


@query("stats_kendall_w", oracle=_kendall_w_oracle())
def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — KENDALL'S W coefficient of concordance: do the 25
    nation "raters" agree on how the order priorities rank by revenue?
    W ∈ [0, 1] (1 = every block ranks identically), tie-corrected
    W = (12ΣR_j² − 3b²m(m+1)²)/(b²m(m²−1) − bΣT_i), with χ² = b(m−1)W
    — the agreement EFFECT SIZE on exactly the blocked-rank relation
    stats_friedman tests (Friedman answers "do the treatments differ";
    W answers "how strongly do the raters agree", and
    χ²_Friedman = b(m−1)·W ties the two).

    Exactness: 2× average ranks are exact integers (RANK + tie-count),
    so ΣR_j² enters as an exact int64 (ss4/4 exact — column sums of 2×
    ranks are even×count parities handled by the /4 in doubles with
    identical trees); the tie term Σ(t³−t) is exact int64; W is ONE
    rational expression.

    100 TB: one fact aggregate to 25×5 cells; constant state after."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cell = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("block"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    cell = cell.localCheckpoint(eager=False)  # kk + blocks + ranks
    kk = cell.agg(F.countDistinct("trt").cast("long").alias("m"))
    full_blocks = (
        cell.crossJoin(F.broadcast(kk))
        .groupBy("block")
        .agg(F.count("*").alias("nt"), F.any_value("m").alias("m"))
        .filter(F.col("nt") == F.col("m"))
        .select("block")
    )
    fb = cell.join(F.broadcast(full_blocks), "block", "left_semi")
    wb = Window.partitionBy("block").orderBy("cents")
    we = Window.partitionBy("block", "cents")
    rk = fb.select(
        "block",
        "trt",
        (
            F.lit(2) * (F.rank().over(wb) - 1)
            + F.count("*").over(we)
            + F.lit(1)
        ).alias("r2"),
    )
    ties = (
        fb.groupBy("block", "cents")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("block")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("ti")
        )
    )
    colsum = rk.groupBy("trt").agg(F.sum("r2").cast("long").alias("rs2"))
    s = (
        full_blocks.agg(F.count("*").cast("long").alias("b"))
        .crossJoin(
            F.broadcast(
                colsum.agg(
                    F.sum(F.col("rs2") * F.col("rs2"))
                    .cast("long")
                    .alias("ss4")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                ties.agg(F.sum("ti").cast("long").alias("t_all"))
            )
        )
        .crossJoin(F.broadcast(kk))
    )
    ws = (
        F.lit(12.0) * (F.col("ss4") / F.lit(4.0))
        - F.lit(3.0)
        * F.col("b")
        * F.col("b")
        * F.col("m")
        * (F.col("m") + F.lit(1.0))
        * (F.col("m") + F.lit(1.0))
    ) / (
        F.col("b")
        * F.lit(1.0)
        * F.col("b")
        * F.col("m")
        * (F.col("m") * F.lit(1.0) * F.col("m") - F.lit(1.0))
        - F.col("b") * F.lit(1.0) * F.col("t_all")
    )
    return s.select(
        F.col("b").alias("n_blocks"),
        F.col("m").alias("m_items"),
        roundn(ws / F.lit(1.0), 6).alias("kendall_w"),
        roundn(
            F.col("b") * (F.col("m") - F.lit(1.0)) * ws / F.lit(1.0), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# stats_ks_uniform
# ---------------------------------------------------------------------------

#: one-sample KS 0.05 critical coefficient (D_crit = c / sqrt(n))
_KS1_C = 1.358


def _ks_uniform_oracle() -> str:
    return f"""
    WITH v AS (SELECT {sql_u48("k")} AS u FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    rk AS (
        SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS i FROM v),
    d AS (
        SELECT CAST(MAX(CAST(FLOOR(GREATEST(
                   i * 1.0e0 / n.n - u,
                   u - (i - 1.0e0) / n.n) * 1000000000.0e0 + 0.5e0)
                   AS BIGINT)) AS BIGINT) AS dq
        FROM rk CROSS JOIN n)
    SELECT n.n AS n,
           {sql_roundn("d.dq / 1000000000.0e0 / 1.0e0", 6)} AS d_stat,
           {sql_roundn(f"{_KS1_C}e0 / sqrt(n.n * 1.0e0) / 1.0e0", 6)}
               AS d_crit_05,
           d.dq / 1000000000.0e0 > {_KS1_C}e0 / sqrt(n.n * 1.0e0)
               AS reject_05
    FROM d CROSS JOIN n
    """


@query("stats_ks_uniform", oracle=_ks_uniform_oracle())
def stats_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — one-sample KOLMOGOROV–SMIRNOV against U(0,1) on the
    portable md5 draw itself: D = max_i max(i/n − u_(i), u_(i) −
    (i−1)/n) vs the 0.05 critical 1.358/√n.  This is the HASH-QUALITY
    audit the whole seeded-draw discipline rests on (every ab_*/eval_*
    key derives coins and scores from these u48 draws; ab_srm_check
    tests the 2-bucket split — this tests the full distribution), and
    the one-sample sibling of hypothesis_ks2.  The law: the hash must
    NOT reject.

    Exactness: u values are exact dyadic rationals ((h+0.5)/2^48); the
    order statistics come from the two-phase global rank (never a
    one-reducer sort); each deviation quantizes to nano-units before
    the max (identical floor both engines).

    100 TB: one projection-side derivation; the global order is the
    scale-safe global_rank pattern; the readout is a 1-row max."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(u48("k").alias("u"))
    v = v.localCheckpoint(eager=False)  # rank + count
    nn = v.agg(F.count("*").cast("long").alias("n"))
    rk = global_rank(v, [F.col("u")], rank_col="i")
    d = (
        rk.crossJoin(F.broadcast(nn))
        .agg(
            F.max(
                F.floor(
                    F.greatest(
                        F.col("i") * F.lit(1.0) / F.col("n") - F.col("u"),
                        F.col("u") - (F.col("i") - F.lit(1.0)) / F.col("n"),
                    )
                    * F.lit(1.0e9)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("dq")
        )
    )
    crit = F.lit(_KS1_C) / F.sqrt(F.col("n") * F.lit(1.0))
    return d.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n"),
        roundn(F.col("dq") / F.lit(1.0e9) / F.lit(1.0), 6).alias("d_stat"),
        roundn(crit / F.lit(1.0), 6).alias("d_crit_05"),
        (F.col("dq") / F.lit(1.0e9) > crit).alias("reject_05"),
    )
