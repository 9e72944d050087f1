"""Eval-harness metrics over deterministic classifier logs.

Round-4 continuation of the eval tier (pass@k, MRR/NDCG, bootstrap CI):
threshold-free ranking quality (ROC-AUC via the tie-corrected rank-sum
form) and probability calibration (reliability bins + expected
calibration error).  Both operate on an eval log derived
deterministically from ``orders`` — the same (example_id, score/conf,
label) shape a real model-eval export lands as — so the keys are
oracle-paired and bit-reproducible.

Reference parity: the reference repo's pipeline has no model-eval tier
(it is an Airflow orchestration shell); these keys extend the
training-data-pipeline surface the build brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48, u48
from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# --------------------------------------------------------------------------
# shared deterministic eval-log derivation
# --------------------------------------------------------------------------

#: positive-label md5-prefix coin: first hex byte < 0x4d (~30% positives)
_POS_SQL = "SUBSTR(md5('y:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '4d'"


def _pos() -> F.Column:
    return (
        F.substring(
            F.md5(F.concat(F.lit("y:"), F.col("o_orderkey").cast("string"))), 1, 2
        )
        < "4d"
    )


# --------------------------------------------------------------------------
# eval_auc_roc — tie-corrected rank-sum ROC-AUC + threshold table
# --------------------------------------------------------------------------


def _auc_oracle() -> str:
    u = sql_u48("s")
    return f"""
    WITH scored AS (
        SELECT FLOOR((0.6e0 * ({u}) +
                      CASE WHEN {_POS_SQL} THEN 0.4e0 ELSE 0.0e0 END)
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS score,
               CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
        FROM orders),
    g AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS n_s,
               CAST(SUM(pos) AS BIGINT) AS p_s
        FROM scored GROUP BY score),
    rk AS (
        SELECT score, n_s, p_s,
               SUM(n_s) OVER (ORDER BY score) AS cum
        FROM g),
    tot AS (
        SELECT CAST(SUM(p_s * (2 * (cum - n_s + 1) + n_s - 1)) AS BIGINT)
                   AS s2,
               CAST(SUM(p_s) AS BIGINT) AS p,
               CAST(SUM(n_s - p_s) AS BIGINT) AS n
        FROM rk),
    auc AS (
        SELECT p AS n_pos, n AS n_neg,
               FLOOR(CAST(s2 - p * (p + 1) AS DOUBLE)
                     / CAST(2 * p * n AS DOUBLE) * 1000000.0e0 + 0.5e0)
                   / 1000000.0e0 AS auc
        FROM tot),
    bins AS (
        SELECT LEAST(CAST(FLOOR(score * 10.0e0) AS INT), 9) AS bin,
               CAST(SUM(pos) AS BIGINT) AS bp, CAST(COUNT(*) AS BIGINT) AS bn
        FROM scored GROUP BY 1),
    cells AS (
        SELECT i.i AS bin, COALESCE(b.bp, 0) AS bp, COALESCE(b.bn, 0) AS bn
        FROM generate_series(0, 9) i(i) LEFT JOIN bins b ON b.bin = i.i),
    cum AS (
        SELECT bin,
               CAST(SUM(bp) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
               CAST(SUM(bn) OVER (ORDER BY bin DESC) AS BIGINT) AS above
        FROM cells)
    SELECT CAST(cum.bin AS DOUBLE) / 10.0e0 AS threshold,
           cum.tp AS tp,
           cum.above - cum.tp AS fp,
           auc.n_pos - cum.tp AS fn,
           auc.n_neg - (cum.above - cum.tp) AS tn,
           FLOOR(CAST(cum.tp AS DOUBLE) / CAST(auc.n_pos AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS tpr,
           FLOOR(CAST(cum.above - cum.tp AS DOUBLE)
                 / CAST(auc.n_neg AS DOUBLE) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS fpr,
           FLOOR(CAST(cum.tp AS DOUBLE)
                 / CAST(NULLIF(cum.above, 0) AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS prec,
           auc.auc AS auc,
           FLOOR((2.0e0 * auc.auc - 1.0e0) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS gini,
           auc.n_pos AS n_pos, auc.n_neg AS n_neg
    FROM cum CROSS JOIN auc
    ORDER BY threshold
    """


@query("eval_auc_roc", oracle=_auc_oracle())
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — threshold-free ranking quality of a scored binary
    classifier: exact tie-corrected ROC-AUC via the Mann-Whitney
    rank-sum identity AUC = (S - P(P+1)/2)/(P*N) with S the sum of
    positives' AVERAGE ranks, plus the 10-row fixed-threshold ROC/
    confusion table (tp/fp/fn/tn, TPR/FPR/precision) an eval report
    prints beside it.  The eval log is derived deterministically from
    orders (label = md5-prefix coin at ~30% prevalence, score =
    0.6*u48 + 0.4*label quantized to 6 dp — an informative-but-noisy
    classifier with AUC ~= 0.89).

    Exactness: scores are 6-dp-quantized BEFORE ranking so tie groups
    are identical on both engines; S enters as the integer
    2S = sum over score groups of p_s*(2*min_rank + n_s - 1) (average
    ranks doubled -> exact int64), so AUC = (2S - P(P+1)) / (2PN) is
    ONE division, floor-rounded at 6 dp; the confusion counts are
    exact int64 cumulative sums over a dense 10-bin grid.

    100 TB: no single-reducer sort — the rank phase runs on the
    score-GROUPED relation through the two-phase global_rank
    (operators/scale.py): range-exchange + per-partition cumsum +
    broadcast offsets.  The threshold table is a 10-row grid window;
    everything else is map-side-combined aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    pos = _pos()
    score = roundn(
        F.lit(0.6) * u48("s") + F.when(pos, F.lit(0.4)).otherwise(F.lit(0.0)), 6
    )
    scored = orders.select(
        score.alias("score"), pos.cast("int").alias("pos")
    )
    g = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("p_s"),
    )
    rk = global_rank(
        g, [F.col("score")], rank_col="__rn", cumsum_col="__cum", value_col="n_s"
    )
    tot = rk.agg(
        F.sum(
            F.col("p_s")
            * (2 * (F.col("__cum") - F.col("n_s") + 1) + F.col("n_s") - 1)
        )
        .cast("long")
        .alias("s2"),
        F.sum("p_s").cast("long").alias("p"),
        F.sum(F.col("n_s") - F.col("p_s")).cast("long").alias("n"),
    )
    auc = tot.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        roundn(
            (F.col("s2") - F.col("p") * (F.col("p") + 1)).cast("double")
            / (2 * F.col("p") * F.col("n")).cast("double"),
            6,
        ).alias("auc"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(
        F.sum("pos").cast("long").alias("bp"),
        F.count("*").cast("long").alias("bn"),
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    cells = (
        grid.join(F.broadcast(bins), "bin", "left")
        .select(
            "bin",
            F.coalesce("bp", F.lit(0)).alias("bp"),
            F.coalesce("bn", F.lit(0)).alias("bn"),
        )
    )
    from pyspark.sql import Window

    # 10-row grid: the descending cumulative window is bounded by the
    # grid size (config constant), never by data
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "bin",
        F.sum("bp").over(w).cast("long").alias("tp"),
        F.sum("bn").over(w).cast("long").alias("above"),
    )
    return (
        cum.crossJoin(F.broadcast(auc))
        .select(
            (F.col("bin").cast("double") / F.lit(10.0)).alias("threshold"),
            "tp",
            (F.col("above") - F.col("tp")).alias("fp"),
            (F.col("n_pos") - F.col("tp")).alias("fn"),
            (F.col("n_neg") - (F.col("above") - F.col("tp"))).alias("tn"),
            roundn(
                F.col("tp").cast("double") / F.col("n_pos").cast("double"), 6
            ).alias("tpr"),
            roundn(
                (F.col("above") - F.col("tp")).cast("double")
                / F.col("n_neg").cast("double"),
                6,
            ).alias("fpr"),
            roundn(
                F.col("tp").cast("double")
                / F.nullif(F.col("above"), F.lit(0)).cast("double"),
                6,
            ).alias("prec"),
            "auc",
            roundn(F.lit(2.0) * F.col("auc") - F.lit(1.0), 6).alias("gini"),
            "n_pos",
            "n_neg",
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------------------------
# eval_calibration_ece — reliability bins + expected calibration error
# --------------------------------------------------------------------------


def _ece_oracle() -> str:
    u1 = sql_u48("c")
    u2 = sql_u48("z")
    return f"""
    WITH log AS (
        SELECT CAST(FLOOR((0.05e0 + 0.9e0 * ({u1})) * 10000.0e0 + 0.5e0)
                    AS BIGINT) AS c_int,
               CASE WHEN ({u2}) < GREATEST(
                        (0.05e0 + 0.9e0 * ({u1})) - 0.08e0, 0.0e0)
                    THEN 1 ELSE 0 END AS correct
        FROM orders),
    b AS (
        SELECT LEAST(c_int // 1000, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(correct) AS BIGINT) AS k,
               CAST(SUM(c_int) AS BIGINT) AS c_sum
        FROM log GROUP BY 1),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(ABS(c_sum - 10000 * k)) AS BIGINT) AS gap_num
        FROM b)
    SELECT CAST(b.bin AS INT) AS bin, b.n AS n,
           FLOOR(CAST(b.c_sum AS DOUBLE) / (10000.0e0 * b.n)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS avg_conf,
           FLOOR(CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS accuracy,
           FLOOR(CAST(ABS(b.c_sum - 10000 * b.k) AS DOUBLE)
                 / (10000.0e0 * b.n) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS gap,
           FLOOR(CAST(t.gap_num AS DOUBLE) / (10000.0e0 * t.n_total)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS ece,
           t.n_total AS n_total
    FROM b CROSS JOIN t
    ORDER BY bin
    """


@query("eval_calibration_ece", oracle=_ece_oracle())
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — probability CALIBRATION of a classifier's reported
    confidences: the 10-bin reliability table (per-bin count, average
    confidence, empirical accuracy, |gap|) and the expected calibration
    error ECE = sum over bins of (n_b/N)*|avg_conf_b - acc_b|.  The
    eval log is derived deterministically from orders with a PLANTED
    ~8-point overconfidence (confidence = 0.05 + 0.9*u48, outcome coin
    succeeds at confidence - 0.08), so the readout shows the
    overconfident-model signature a calibration review looks for:
    avg_conf > accuracy in every populated bin, ECE ~= 0.08.

    Exactness: confidences live as exact integer 1e-4 units from the
    md5 draw (c_int), so per-bin sums are exact int64 and the per-bin
    weighted-gap numerator |c_sum - 10000*k| is exact; ECE is
    sum(|...|) / (10000*N) — integer numerator summed in any order,
    ONE division, floor-rounded 6 dp.  The outcome coin compares two
    identically-derived doubles (u2 < conf - 0.08), deterministic on
    both engines.

    100 TB: one map-side-combined 10-group aggregate plus a one-row
    broadcast of the totals — no windows, no shuffle beyond the
    10-key exchange; the eval-log derivation is projection-side."""
    orders = load_table(spark, sf_dir, "orders")
    u1 = u48("c")
    u2 = u48("z")
    conf = F.lit(0.05) + F.lit(0.9) * u1
    c_int = F.floor(conf * F.lit(10000.0) + F.lit(0.5)).cast("long")
    correct = (
        u2 < F.greatest(conf - F.lit(0.08), F.lit(0.0))
    ).cast("int")
    log = orders.select(c_int.alias("c_int"), correct.alias("correct"))
    b = log.groupBy(
        F.least(F.expr("c_int DIV 1000"), F.lit(9)).cast("int").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("correct").cast("long").alias("k"),
        F.sum("c_int").cast("long").alias("c_sum"),
    )
    t = b.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.abs(F.col("c_sum") - 10000 * F.col("k")))
        .cast("long")
        .alias("gap_num"),
    )
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            roundn(
                F.col("c_sum").cast("double") / (F.lit(10000.0) * F.col("n")), 6
            ).alias("avg_conf"),
            roundn(F.col("k").cast("double") / F.col("n").cast("double"), 6).alias(
                "accuracy"
            ),
            roundn(
                F.abs(F.col("c_sum") - 10000 * F.col("k")).cast("double")
                / (F.lit(10000.0) * F.col("n")),
                6,
            ).alias("gap"),
            roundn(
                F.col("gap_num").cast("double")
                / (F.lit(10000.0) * F.col("n_total")),
                6,
            ).alias("ece"),
            "n_total",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# eval_agreement_kappa — inter-annotator agreement (Cohen's kappa)
# --------------------------------------------------------------------------

#: 3-class label space; annotators = latent label + independent md5
#: flip coins (annotator 1 flips ~12.5% of docs, annotator 2 ~25%)
_KAPPA_K = 3


def _kappa_ann_sql(flip_salt: str, flip_lt: str) -> str:
    lbl = (
        "CAST(CAST('0x' || SUBSTR(md5('lbl:' || CAST(doc_id AS VARCHAR)),"
        " 1, 8) AS BIGINT) % 3 AS INT)"
    )
    return (
        f"CASE WHEN SUBSTR(md5('{flip_salt}:' || CAST(doc_id AS VARCHAR)),"
        f" 1, 2) < '{flip_lt}' THEN ({lbl} + 1) % 3 ELSE {lbl} END"
    )


def _kappa_oracle() -> str:
    a1 = _kappa_ann_sql("f1", "20")
    a2 = _kappa_ann_sql("f2", "40")
    return f"""
    WITH lab AS (
        SELECT doc_id, {a1} AS ann1, {a2} AS ann2 FROM documents),
    cm AS (
        SELECT ann1, ann2, CAST(COUNT(*) AS BIGINT) AS n
        FROM lab GROUP BY 1, 2),
    grid AS (
        SELECT CAST(i.i AS INT) AS ann1, CAST(j.j AS INT) AS ann2,
               COALESCE(cm.n, 0) AS n
        FROM generate_series(0, {_KAPPA_K - 1}) i(i)
        CROSS JOIN generate_series(0, {_KAPPA_K - 1}) j(j)
        LEFT JOIN cm ON cm.ann1 = i.i AND cm.ann2 = j.j),
    marg2 AS (
        SELECT g.nn, g.po_num, g.pe_num FROM (
            SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM grid) AS nn,
                   (SELECT CAST(SUM(CASE WHEN ann1 = ann2 THEN n ELSE 0 END)
                        AS BIGINT) FROM grid) AS po_num,
                   (SELECT CAST(SUM(r.rn * c.cn) AS BIGINT)
                    FROM (SELECT ann1 AS k, SUM(n) AS rn FROM grid
                          GROUP BY 1) r
                    JOIN (SELECT ann2 AS k, SUM(n) AS cn FROM grid
                          GROUP BY 1) c USING (k)) AS pe_num) g)
    SELECT grid.ann1, grid.ann2, grid.n,
           m.nn AS n_docs,
           FLOOR(CAST(m.po_num AS DOUBLE) / CAST(m.nn AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS po,
           FLOOR(CAST(m.pe_num AS DOUBLE) / CAST(m.nn * m.nn AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS pe,
           FLOOR(CAST(m.po_num * m.nn - m.pe_num AS DOUBLE)
                 / CAST(m.nn * m.nn - m.pe_num AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS kappa
    FROM grid CROSS JOIN marg2 m
    ORDER BY grid.ann1, grid.ann2
    """


@query("eval_agreement_kappa", oracle=_kappa_oracle())
def eval_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — INTER-ANNOTATOR agreement for a labeling pipeline:
    the dense 3x3 confusion grid between two annotators plus Cohen's
    kappa, the chance-corrected agreement statistic a labeling-quality
    review reads (raw percent agreement rewards majority-class
    spamming; kappa = (po - pe)/(1 - pe) discounts it).  Annotators
    are derived deterministically from doc_id as a latent 3-class
    label with independent md5 flip coins (~12.5% and ~25% error) —
    the same (item, rater, label) shape a real annotation export
    lands as.

    Exactness: the whole statistic stays in EXACT integers until one
    final division — po_num = sum of diagonal counts, pe_num = sum of
    row_k*col_k products, and kappa = (po_num*N - pe_num) /
    (N^2 - pe_num); int64 is safe to N ~ 3e9 items.  The grid is
    dense (zero-filled 3x3) so the shape never depends on which
    disagreements occur.

    100 TB: one map-side-combined 9-group aggregate; marginals and
    kappa are scalar math on the class-cardinality grid with a
    one-row broadcast back onto the 9 rows."""
    docs = load_table(spark, sf_dir, "documents")
    lbl = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lbl:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 3
    ).cast("int")

    def ann(flip_salt: str, flip_lt: str) -> F.Column:
        flip = (
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{flip_salt}:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                2,
            )
            < flip_lt
        )
        return F.when(flip, (lbl + 1) % 3).otherwise(lbl).cast("int")

    lab = docs.select(ann("f1", "20").alias("ann1"), ann("f2", "40").alias("ann2"))
    cm = lab.groupBy("ann1", "ann2").agg(F.count("*").cast("long").alias("n"))
    grid = (
        spark.range(_KAPPA_K)
        .select(F.col("id").cast("int").alias("ann1"))
        .crossJoin(
            spark.range(_KAPPA_K).select(F.col("id").cast("int").alias("ann2"))
        )
        .join(cm, ["ann1", "ann2"], "left")
        .select("ann1", "ann2", F.coalesce("n", F.lit(0)).alias("n"))
    )
    grid = grid.localCheckpoint(eager=False)  # marginals + output rows
    rows = grid.groupBy(F.col("ann1").alias("k")).agg(
        F.sum("n").cast("long").alias("rn")
    )
    cols = grid.groupBy(F.col("ann2").alias("k")).agg(
        F.sum("n").cast("long").alias("cn")
    )
    pe = (
        rows.join(cols, "k")
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("long").alias("pe_num"))
    )
    po = grid.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.when(F.col("ann1") == F.col("ann2"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("po_num"),
    )
    m = po.crossJoin(F.broadcast(pe))
    return (
        grid.crossJoin(F.broadcast(m))
        .select(
            "ann1",
            "ann2",
            "n",
            F.col("nn").alias("n_docs"),
            roundn(F.col("po_num").cast("double") / F.col("nn").cast("double"), 6)
            .alias("po"),
            roundn(
                F.col("pe_num").cast("double")
                / (F.col("nn") * F.col("nn")).cast("double"),
                6,
            ).alias("pe"),
            roundn(
                (F.col("po_num") * F.col("nn") - F.col("pe_num")).cast("double")
                / (F.col("nn") * F.col("nn") - F.col("pe_num")).cast("double"),
                6,
            ).alias("kappa"),
        )
        .orderBy("ann1", "ann2")
    )


# --------------------------------------------------------------------------
# eval_elo_bt — Bradley-Terry strength ratings from pairwise wins
# --------------------------------------------------------------------------

#: number of models in the arena and MM iterations
_BT_M = 8
_BT_ITERS = 3
#: per-iteration rating quantization (nano-units)
_BT_Q = 1_000_000_000


def _bt_oracle() -> str:
    m, q = _BT_M, _BT_Q
    u = sql_u48("m")

    def it(cur: str, nxt: str) -> str:
        # MM step: pi'_i = W_i / sum_j n_ij/(pi_i + pi_j), renormalized
        # to sum 1 and requantized to nano-units each iteration
        return f"""
    {nxt}raw AS (
        SELECT w.i,
               CAST(FLOOR(
                   CAST(w.wins AS DOUBLE) * 1000000.0e0
                   / CAST(SUM(CAST(FLOOR(
                         CAST(p.n AS DOUBLE) * 1000000.0e0 * {q}.0e0
                         / (CAST(ca.v AS DOUBLE) + CAST(cb.v AS DOUBLE))
                         + 0.5e0) AS BIGINT)) AS DOUBLE)
                   * 1000000000.0e0 + 0.5e0) AS BIGINT) AS r
        FROM wins w
        JOIN pairs p ON p.i = w.i OR p.j = w.i
        JOIN {cur} ca ON ca.k = w.i
        JOIN {cur} cb ON cb.k = CASE WHEN p.i = w.i THEN p.j ELSE p.i END
        GROUP BY w.i, w.wins),
    {nxt}t AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM {nxt}raw),
    {nxt} AS (
        SELECT g.i AS k,
               CAST(FLOOR(CAST(rr.r AS DOUBLE) / CAST(t.t AS DOUBLE)
                          * {q}.0e0 + 0.5e0) AS BIGINT) AS v
        FROM models g
        JOIN {nxt}raw rr ON rr.i = g.i
        CROSS JOIN {nxt}t t)"""

    return f"""
    WITH match AS (
        SELECT o_orderkey % {m} AS a,
               (o_orderkey // {m}) % {m} AS b,
               ({u}) < (CAST(o_orderkey % {m} AS DOUBLE) + 1.0e0)
                       / (CAST(o_orderkey % {m} AS DOUBLE)
                          + CAST((o_orderkey // {m}) % {m} AS DOUBLE) + 2.0e0)
                   AS a_wins
        FROM orders
        WHERE o_orderkey % {m} <> (o_orderkey // {m}) % {m}),
    models AS (SELECT CAST(i.i AS BIGINT) AS i
               FROM generate_series(0, {m - 1}) i(i)),
    pairs AS (
        SELECT LEAST(a, b) AS i, GREATEST(a, b) AS j,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM match GROUP BY 1, 2),
    wins AS (
        SELECT mo.i,
               CAST(COALESCE(SUM(CASE WHEN (mt.a = mo.i AND mt.a_wins)
                                        OR (mt.b = mo.i AND NOT mt.a_wins)
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS wins,
               CAST(COUNT(mt.a) AS BIGINT) AS games
        FROM models mo
        LEFT JOIN match mt ON mt.a = mo.i OR mt.b = mo.i
        GROUP BY mo.i),
    p0 AS (SELECT i AS k, CAST({q} // {m} AS BIGINT) AS v FROM models),
    {it("p0", "p1")},
    {it("p1", "p2")},
    {it("p2", "p3")}
    SELECT w.i AS model_id, w.games, w.wins,
           FLOOR(CAST(p3.v AS DOUBLE) / {q}.0e0 * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS bt_score,
           CAST(ROW_NUMBER() OVER (ORDER BY p3.v DESC, w.i) AS BIGINT)
               AS rnk
    FROM wins w JOIN p3 ON p3.k = w.i
    ORDER BY rnk
    """


@query("eval_elo_bt", oracle=_bt_oracle())
def eval_elo_bt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — BRADLEY-TERRY strength ratings from pairwise
    preference data (the public LLM-arena methodology: humans pick a
    winner between two anonymous models; BT recovers a global
    leaderboard from the win matrix).  Matches derive
    deterministically from orders (model pair = two digits of the
    orderkey base {m}, winner = a u48 coin at the latent-strength odds
    s_i = i+1), and three minorization-maximization iterations
    pi'_i = W_i / sum_j n_ij/(pi_i + pi_j) recover the planted
    ordering — the law test pins rank agreement with the latent
    strengths.

    Exactness: win/game counts exact int64; each MM iteration's
    ratings are renormalized to sum 1 and REQUANTIZED to integer
    nano-units before the next iteration reads them, so the
    fixed-point trajectory is bit-identical on both engines; the
    per-opponent sum runs over the <= {m}({m}-1)/2-row pair table
    (order-free after quantization: each term is a function of
    quantized state).

    100 TB: the match log collapses to the pair matrix in one
    map-side aggregate; iterations are joins over model-cardinality
    relations — rating state is O(models), never match-sized."""
    m, q = _BT_M, _BT_Q
    orders = load_table(spark, sf_dir, "orders")
    a = (F.col("o_orderkey") % m).cast("long")
    b = (F.expr(f"o_orderkey DIV {m}") % m).cast("long")
    u = u48("m")
    match = (
        orders.where(a != b)
        .select(
            a.alias("a"),
            b.alias("b"),
            (
                u
                < (a.cast("double") + F.lit(1.0))
                / (a.cast("double") + b.cast("double") + F.lit(2.0))
            ).alias("a_wins"),
        )
    )
    match = match.localCheckpoint(eager=False)  # pairs + wins consumers
    models = spark.range(m).select(F.col("id").cast("long").alias("i"))
    pairs = (
        match.groupBy(
            F.least("a", "b").alias("i"), F.greatest("a", "b").alias("j")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    # r10 (guide §3 — avoid exploding joins): per-model wins/games via a
    # two-arm projection + ONE map-side aggregate.  The previous
    # models⋈match join on (a = i OR b = i) planned as a
    # BroadcastNestedLoopJoin that tested every match row against all m
    # models and widened the match log before aggregating; each match
    # contributes exactly its two participants, so the union projection
    # produces the identical counts with no join over the match log.
    contrib = match.select(
        F.col("a").alias("i"), F.col("a_wins").alias("won")
    ).unionAll(
        match.select(F.col("b").alias("i"), (~F.col("a_wins")).alias("won"))
    )
    wagg = contrib.groupBy("i").agg(
        F.sum(F.when(F.col("won"), 1).otherwise(0)).cast("long").alias("wins"),
        F.count("*").cast("long").alias("games"),
    )
    wins = models.join(F.broadcast(wagg), "i", "left").select(
        "i",
        F.coalesce(F.col("wins"), F.lit(0)).cast("long").alias("wins"),
        F.coalesce(F.col("games"), F.lit(0)).cast("long").alias("games"),
    )
    wins = wins.localCheckpoint(eager=False)  # per-iteration + output
    pairs = pairs.localCheckpoint(eager=False)

    def mm_step(p: DataFrame, _r: int) -> DataFrame:
        # every relation in an MM iteration is model-cardinality
        # (≤ m(m-1)/2 rows) but hidden behind checkpoints/aggregates the
        # planner cannot size — broadcast them explicitly so each
        # iteration is hash-join map work + one tiny groupBy instead of
        # a chain of sort-merge exchanges (r10, guide §3.1)
        opp = F.broadcast(
            pairs.select("i", "j", "n").unionAll(
                pairs.select(
                    F.col("j").alias("i"), F.col("i").alias("j"), "n"
                )
            )
        )
        raw = (
            wins.join(opp, wins.i == opp.i)
            .join(
                F.broadcast(
                    p.select(F.col("k").alias("ka"), F.col("v").alias("va"))
                ),
                F.col("ka") == wins.i,
            )
            .join(
                F.broadcast(
                    p.select(F.col("k").alias("kb"), F.col("v").alias("vb"))
                ),
                F.col("kb") == opp.j,
            )
            .groupBy(wins.i.alias("gi"), "wins")
            .agg(
                F.sum(
                    F.floor(
                        F.col("n").cast("double")
                        * F.lit(1000000.0)
                        * F.lit(float(q))
                        / (
                            F.col("va").cast("double")
                            + F.col("vb").cast("double")
                        )
                        + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias("denom")
            )
            .select(
                F.col("gi").alias("i"),
                F.floor(
                    F.col("wins").cast("double")
                    * F.lit(1000000.0)
                    / F.col("denom").cast("double")
                    * F.lit(1000000000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("r"),
            )
        )
        t = raw.agg(F.sum("r").cast("long").alias("t"))
        return raw.crossJoin(F.broadcast(t)).select(
            F.col("i").alias("k"),
            F.floor(
                F.col("r").cast("double") / F.col("t").cast("double")
                * F.lit(float(q))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("v"),
        )

    p = fixpoint(
        models.select(
            F.col("i").alias("k"), F.lit(q // m).cast("long").alias("v")
        ),
        mm_step,
        max_rounds=_BT_ITERS,
        name="eval_elo_bt",
    )
    return (
        wins.join(p, wins.i == p.k)
        .select(
            wins.i.alias("model_id"),
            "games",
            "wins",
            roundn(F.col("v").cast("double") / F.lit(float(q)), 6).alias(
                "bt_score"
            ),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("bt_score"), F.asc("model_id")))
            .cast("long"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# eval_f1_multiclass — per-class precision/recall/F1 + macro/micro
# --------------------------------------------------------------------------

_ACTUAL_SQL = (
    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 2 "
    "WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END"
)
_PREDICTED_SQL = (
    "CASE WHEN SUBSTR(md5('m:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '33' "
    f"THEN ({_ACTUAL_SQL} + 1) % 3 "
    "WHEN SUBSTR(md5('m:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '4d' "
    f"THEN ({_ACTUAL_SQL} + 2) % 3 "
    f"ELSE {_ACTUAL_SQL} END"
)


def _f1_oracle() -> str:
    return f"""
    WITH log AS (
        SELECT {_ACTUAL_SQL} AS actual, {_PREDICTED_SQL} AS predicted
        FROM orders),
    conf AS (
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM log GROUP BY 1, 2),
    by_actual AS (
        SELECT actual AS class_id,
               CAST(SUM(n) AS BIGINT) AS support,
               CAST(SUM(CASE WHEN predicted = actual THEN n ELSE 0 END)
                    AS BIGINT) AS tp
        FROM conf GROUP BY 1),
    by_pred AS (
        SELECT predicted AS class_id, CAST(SUM(n) AS BIGINT) AS n_pred
        FROM conf GROUP BY 1),
    per_class AS (
        SELECT a.class_id, a.support, a.tp,
               COALESCE(p.n_pred, 0) - a.tp AS fp,
               a.support - a.tp AS fn,
               CAST(FLOOR(CAST(2 * a.tp AS DOUBLE)
                          / CAST(2 * a.tp + (COALESCE(p.n_pred, 0) - a.tp)
                                 + (a.support - a.tp) AS DOUBLE)
                          * 1000000.0e0 + 0.5e0) AS BIGINT) AS f1_micro_units
        FROM by_actual a LEFT JOIN by_pred p ON a.class_id = p.class_id),
    totals AS (
        SELECT CAST(SUM(support) AS BIGINT) AS n_total,
               CAST(SUM(tp) AS BIGINT) AS n_correct,
               CAST(SUM(f1_micro_units) AS BIGINT) AS f1_sum,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per_class)
    SELECT c.class_id, c.support, c.tp, c.fp, c.fn,
           FLOOR(CAST(c.tp AS DOUBLE) / CAST(NULLIF(c.tp + c.fp, 0) AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS precision,
           FLOOR(CAST(c.tp AS DOUBLE) / CAST(NULLIF(c.tp + c.fn, 0) AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS recall,
           CAST(c.f1_micro_units AS DOUBLE) / 1000000.0e0 AS f1,
           CAST(t.f1_sum / t.k AS DOUBLE) / 1000000.0e0 AS macro_f1,
           FLOOR(CAST(t.n_correct AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS micro_f1
    FROM per_class c CROSS JOIN totals t
    ORDER BY c.class_id
    """


@query("eval_f1_multiclass", oracle=_f1_oracle())
def eval_f1_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — the multi-class classification report: per-class
    tp/fp/fn with precision, recall, F1, plus the macro-F1 (unweighted
    class mean — the imbalance-robust headline) and micro-F1 (= accuracy
    for single-label tasks).  The eval log derives deterministically
    from ``orders``: actual = priority bucket (urgent/high -> 2,
    medium -> 1, else 0), predicted = actual corrupted by an md5-prefix
    two-sided noise channel (~20% shift +1, ~10% shift +2) — a
    plausible ~70%-accurate classifier with class imbalance.

    Exactness: every count is exact int64 off one 9-cell confusion
    aggregate; F1 enters as 2tp/(2tp+fp+fn) — ONE division per class —
    floor-quantized to integer 1e-6 units, so the macro mean is an
    integer sum with ONE division (no float crosses classes);
    precision/recall/micro are each one final division.

    100 TB: the fact scan collapses map-side to <= |classes|^2 cells;
    everything after runs on class-cardinality relations.  Adding
    classes grows the grid quadratically but it stays metadata-sized."""
    orders = load_table(spark, sf_dir, "orders")
    actual = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
    )
    coin = F.substring(
        F.md5(F.concat(F.lit("m:"), F.col("o_orderkey").cast("string"))), 1, 2
    )
    predicted = (
        F.when(coin < "33", (actual + 1) % 3)
        .when(coin < "4d", (actual + 2) % 3)
        .otherwise(actual)
    )
    conf = (
        orders.select(actual.alias("actual"), predicted.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n"))
    )
    by_actual = conf.groupBy(F.col("actual").alias("class_id")).agg(
        F.sum("n").cast("long").alias("support"),
        F.sum(F.when(F.col("predicted") == F.col("actual"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    by_pred = conf.groupBy(F.col("predicted").alias("class_id")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    per_class = by_actual.join(by_pred, "class_id", "left").select(
        "class_id",
        "support",
        "tp",
        (F.coalesce("n_pred", F.lit(0)) - F.col("tp")).alias("fp"),
        (F.col("support") - F.col("tp")).alias("fn"),
        F.floor(
            (2 * F.col("tp")).cast("double")
            / (
                2 * F.col("tp")
                + (F.coalesce("n_pred", F.lit(0)) - F.col("tp"))
                + (F.col("support") - F.col("tp"))
            ).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("f1_micro_units"),
    )
    totals = per_class.agg(
        F.sum("support").cast("long").alias("n_total"),
        F.sum("tp").cast("long").alias("n_correct"),
        F.sum("f1_micro_units").cast("long").alias("f1_sum"),
        F.count("*").cast("long").alias("k"),
    )
    return (
        per_class.crossJoin(F.broadcast(totals))
        .select(
            "class_id",
            "support",
            "tp",
            "fp",
            "fn",
            roundn(
                F.col("tp").cast("double")
                / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)).cast("double"),
                6,
            ).alias("precision"),
            roundn(
                F.col("tp").cast("double")
                / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
            (F.col("f1_micro_units").cast("double") / F.lit(1000000.0)).alias("f1"),
            (
                (F.col("f1_sum") / F.col("k")).cast("double") / F.lit(1000000.0)
            ).alias("macro_f1"),
            roundn(
                F.col("n_correct").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("micro_f1"),
        )
        .orderBy("class_id")
    )


# --------------------------------------------------------------------------
# eval_bleu — corpus-level BLEU-2 of a noisy-channel candidate
# --------------------------------------------------------------------------

#: candidate = reference with every 5th token replaced by the OOV token
#: 'qz' — a same-length noisy channel, so the brevity penalty is exactly 1
#: and BLEU-2 = sqrt(p1*p2) stays libm-free (sqrt is IEEE-exact).
_CAND_SQL = (
    "list_transform(range(1, len(t) + 1), "
    "i -> CASE WHEN i % 5 = 0 THEN 'qz' ELSE t[i] END)"
)


def _bleu_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, t, {_CAND_SQL} AS c
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2),
    ref1 AS (
        SELECT doc_id, UNNEST(t) AS g FROM toks),
    cand1 AS (
        SELECT doc_id, UNNEST(c) AS g FROM toks),
    ref1c AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rn
        FROM ref1 GROUP BY 1, 2),
    cand1c AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cn
        FROM cand1 GROUP BY 1, 2),
    clip1 AS (
        SELECT CAST(SUM(LEAST(c.cn, COALESCE(r.rn, 0))) AS BIGINT) AS hits,
               CAST(SUM(c.cn) AS BIGINT) AS total
        FROM cand1c c LEFT JOIN ref1c r
          ON c.doc_id = r.doc_id AND c.g = r.g),
    ref2 AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks),
    cand2 AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(c)),
                                     i -> c[i] || ' ' || c[i+1])) AS g
        FROM toks),
    ref2c AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rn
        FROM ref2 GROUP BY 1, 2),
    cand2c AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cn
        FROM cand2 GROUP BY 1, 2),
    clip2 AS (
        SELECT CAST(SUM(LEAST(c.cn, COALESCE(r.rn, 0))) AS BIGINT) AS hits,
               CAST(SUM(c.cn) AS BIGINT) AS total
        FROM cand2c c LEFT JOIN ref2c r
          ON c.doc_id = r.doc_id AND c.g = r.g),
    lens AS (
        SELECT CAST(SUM(len(c)) AS BIGINT) AS c_len,
               CAST(SUM(len(t)) AS BIGINT) AS r_len,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM toks)
    SELECT lens.n_docs, lens.c_len, lens.r_len,
           clip1.hits AS p1_hits, clip1.total AS p1_total,
           clip2.hits AS p2_hits, clip2.total AS p2_total,
           FLOOR(CAST(clip1.hits AS DOUBLE) / CAST(clip1.total AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS p1,
           FLOOR(CAST(clip2.hits AS DOUBLE) / CAST(clip2.total AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS p2,
           1.0e0 AS brevity_penalty,
           FLOOR(sqrt((CAST(clip1.hits AS DOUBLE) / CAST(clip1.total AS DOUBLE))
                      * (CAST(clip2.hits AS DOUBLE)
                         / CAST(clip2.total AS DOUBLE)))
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS bleu2
    FROM lens CROSS JOIN clip1 CROSS JOIN clip2
    """


@query("eval_bleu", oracle=_bleu_oracle())
def eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — corpus-level BLEU-2 (Papineni et al. 2002): modified
    n-gram precision with per-document clipping for n=1,2, geometric
    mean, brevity penalty.  The candidate derives deterministically
    from each document as a same-length noisy channel (every 5th token
    replaced by an OOV token), so reference/candidate pairs exist
    without a generation step and the brevity penalty is exactly 1 —
    which keeps the whole metric libm-free: p_n are single exact IEEE
    divisions of int64 clipped-hit sums, and BLEU-2 = sqrt(p1*p2) uses
    only the correctly-rounded sqrt.

    Exactness: clipped hits are SUM(LEAST(cand_n, ref_n)) — exact
    integers; each precision is ONE division; the only compounding is
    one multiply + sqrt, identical bit-for-bit on both engines, then
    floor-quantized at 1e-6.

    100 TB: per-(doc, gram) counts come off one explode + map-side-
    combined groupBy per n; the clip join is keyed (doc_id, gram) —
    co-partitioned, never cross-doc; at scale the gram string key
    collapses to xxhash64(gram) 8-byte keys (the dedup-tier discipline)
    and the final readout is a 3-way one-row broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .withColumn(
            "c",
            F.expr(
                "transform(sequence(1, size(t)), "
                "i -> if(i % 5 = 0, 'qz', element_at(t, i)))"
            ),
        )
    )

    def _ngram_clip(col: str, other: str, n: int):
        if n == 1:
            grams = F.explode(F.col(col)).alias("g")
            grams_o = F.explode(F.col(other)).alias("g")
        else:
            expr = (
                "transform(sequence(1, size({0}) - 1), "
                "i -> concat(element_at({0}, i), ' ', element_at({0}, i + 1)))"
            )
            grams = F.explode(F.expr(expr.format(col))).alias("g")
            grams_o = F.explode(F.expr(expr.format(other))).alias("g")
        cand = (
            toks.select("doc_id", grams)
            .groupBy("doc_id", "g")
            .agg(F.count("*").cast("long").alias("cn"))
        )
        ref = (
            toks.select("doc_id", grams_o)
            .groupBy("doc_id", "g")
            .agg(F.count("*").cast("long").alias("rn"))
        )
        return cand.join(ref, ["doc_id", "g"], "left").agg(
            F.sum(F.least(F.col("cn"), F.coalesce(F.col("rn"), F.lit(0))))
            .cast("long")
            .alias("hits"),
            F.sum("cn").cast("long").alias("total"),
        )

    clip1 = _ngram_clip("c", "t", 1).select(
        F.col("hits").alias("p1_hits"), F.col("total").alias("p1_total")
    )
    clip2 = _ngram_clip("c", "t", 2).select(
        F.col("hits").alias("p2_hits"), F.col("total").alias("p2_total")
    )
    lens = toks.agg(
        F.sum(F.size("c")).cast("long").alias("c_len"),
        F.sum(F.size("t")).cast("long").alias("r_len"),
        F.count("*").cast("long").alias("n_docs"),
    )
    p1 = F.col("p1_hits").cast("double") / F.col("p1_total").cast("double")
    p2 = F.col("p2_hits").cast("double") / F.col("p2_total").cast("double")
    return (
        lens.crossJoin(F.broadcast(clip1))
        .crossJoin(F.broadcast(clip2))
        .select(
            "n_docs",
            "c_len",
            "r_len",
            "p1_hits",
            "p1_total",
            "p2_hits",
            "p2_total",
            roundn(p1, 6).alias("p1"),
            roundn(p2, 6).alias("p2"),
            F.lit(1.0).alias("brevity_penalty"),
            roundn(F.sqrt(p1 * p2), 6).alias("bleu2"),
        )
    )


# --------------------------------------------------------------------------
# eval_rouge_l — true LCS-based ROUGE-L on an audit sample
# --------------------------------------------------------------------------

#: token cap per side (the ROUGE context bound; quadratic DP cost is
#: capped at _RL_CAP^2 cells per document)
_RL_CAP = 32

#: audit sample: every 20th document (offline ROUGE runs score a sample,
#: not the corpus)
_RL_SAMPLE = 20

#: DuckDB twin of operators/text.portable_token_hash, cast to DOUBLE
#: (range < 2^31 — exact in a double)
_RL_HASH = (
    "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({tok}, ''), "
    "c -> CAST(unicode(c) AS BIGINT))), "
    "(a, b) -> (a * 131 + b) % 2147483647) AS DOUBLE)"
)


def _rouge_oracle() -> str:
    h = _RL_HASH
    return f"""
    WITH base AS (
        SELECT doc_id, t[1:{_RL_CAP}] AS r
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE doc_id % {_RL_SAMPLE} = 0 AND len(t) >= 4),
    chan AS (
        SELECT doc_id, r, len(r) AS n,
               list_transform(range(1, len(r) + 1),
                   i -> CASE WHEN i % 5 = 0 THEN 'qz'
                             WHEN i % 2 = 1 THEN
                               r[CASE WHEN i + 1 <= len(r)
                                      THEN i + 1 ELSE i END]
                             ELSE r[i - 1] END) AS c
        FROM base),
    hashed AS (
        SELECT doc_id, n,
               list_transform(r, tok -> {h.format(tok='tok')}) AS rh,
               list_transform(c, tok -> {h.format(tok='tok')}) AS ch
        FROM chan),
    dp AS (
        SELECT doc_id, n,
               list_reduce(
                   list_prepend(
                       list_transform(range(0, n + 1), x -> 0.0e0),
                       list_transform(ch, x -> [x])),
                   (P, e) -> list_reduce(
                       list_prepend(
                           [0.0e0],
                           list_transform(range(1, n + 1),
                                          j -> [CAST(j AS DOUBLE)])),
                       (C, f) -> list_append(C,
                           CASE WHEN rh[CAST(f[1] AS INT)] = e[1]
                                THEN P[CAST(f[1] AS INT)] + 1.0e0
                                ELSE greatest(
                                    P[CAST(f[1] AS INT) + 1],
                                    C[CAST(f[1] AS INT)])
                           END))) AS row
        FROM hashed)
    SELECT doc_id, CAST(n AS INT) AS n_tok,
           CAST(row[n + 1] AS BIGINT) AS lcs,
           FLOOR(row[n + 1] / CAST(n AS DOUBLE) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS rouge_l
    FROM dp
    ORDER BY doc_id
    """


@query("eval_rouge_l", oracle=_rouge_oracle())
def eval_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — ROUGE-L via the TRUE longest-common-subsequence
    dynamic program (not an n-gram proxy): per sampled document the
    candidate is a same-length noisy channel (adjacent-pair swaps +
    every 5th token replaced by an OOV token), and the full O(n·m) LCS
    table runs as a NESTED LEFT FOLD — outer over candidate tokens
    carrying the previous DP row, inner over reference positions
    building the next row — entirely inside the engines' higher-order
    array functions, no UDF.  Same-length channel ⇒ precision = recall
    = F1, reported as ``rouge_l``.  Pair swaps make LCS genuinely
    non-trivial (a pure substitution channel has LCS = n − #subs by
    construction; swaps force the DP to choose alignments).

    Exactness: tokens enter the DP as the portable polynomial hash
    (< 2^31 — exact in a double); every DP cell is an integer count;
    the single division is floor-quantized at 1e-6.

    100 TB: the DP is per-document (embarrassingly parallel, no
    shuffle) with cost capped at {cap}² cells/doc; the {s}×
    sample bound is the knob — corpus-wide ROUGE at full length is a
    Pandas-UDF swap of the same per-doc kernel, same plan shape."""
    from gcp_de_data_pipeline_cc_spark.operators.text import (
        portable_token_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("doc_id") % _RL_SAMPLE == 0)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 4)
        .select("doc_id", F.slice("t", 1, _RL_CAP).alias("r"))
    )
    chan = base.select(
        "doc_id",
        "r",
        F.size("r").alias("n"),
        F.expr(
            "transform(sequence(1, size(r)), i -> "
            "CASE WHEN i % 5 = 0 THEN 'qz' "
            "WHEN i % 2 = 1 THEN element_at(r, "
            "IF(i + 1 <= size(r), i + 1, i)) "
            "ELSE element_at(r, i - 1) END)"
        ).alias("c"),
    )
    hashed = chan.select(
        "doc_id",
        "n",
        F.transform(
            "r", lambda tok: portable_token_hash(tok).cast("double")
        ).alias("rh"),
        F.transform(
            "c", lambda tok: portable_token_hash(tok).cast("double")
        ).alias("ch"),
    )
    rh = F.col("rh")
    n = F.col("n")

    def _inner(P, cid):
        return F.aggregate(
            F.sequence(F.lit(1), n),
            F.array(F.lit(0.0)),
            lambda C, j: F.concat(
                C,
                F.array(
                    F.when(
                        F.element_at(rh, j) == cid,
                        F.element_at(P, j) + F.lit(1.0),
                    ).otherwise(
                        F.greatest(
                            F.element_at(P, j + 1), F.element_at(C, j)
                        )
                    )
                ),
            ),
        )

    row = F.aggregate(
        F.col("ch"),
        F.array_repeat(F.lit(0.0), n + F.lit(1)),
        _inner,
    )
    return hashed.select(
        "doc_id",
        n.cast("int").alias("n_tok"),
        F.element_at(row, n + 1).cast("long").alias("lcs"),
        roundn(
            F.element_at(row, n + 1) / n.cast("double"), 6
        ).alias("rouge_l"),
    ).orderBy("doc_id")


eval_rouge_l.__doc__ = eval_rouge_l.__doc__.format(cap=_RL_CAP, s=_RL_SAMPLE)


# --------------------------------------------------------------------------
# eval_reward_length_bias — verbosity-bias audit of a reward channel
# --------------------------------------------------------------------------

#: 16-bit reward channel (bounded so Σ len·reward stays far inside
#: int64 at any corpus size: 1e9 docs x 553 x 65535 ~ 3.6e16)
_RLB_R_SQL = (
    "CAST(CAST('0x' || SUBSTR(md5('rlb:' || CAST(doc_id AS VARCHAR)), 1, 4)"
    " AS BIGINT) AS BIGINT)"
)


@query(
    "eval_reward_length_bias",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS x, {_RLB_R_SQL} AS y
        FROM documents),
    ranked AS (
        SELECT x, y,
               ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rn,
               COUNT(*) OVER () AS n
        FROM scored),
    dec AS (
        SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile, x, y
        FROM ranked),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS mean_len,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS mean_reward
        FROM dec GROUP BY decile),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM scored),
    stats AS (
        SELECT FLOOR((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / SQRT((CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy))
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS corr,
               FLOOR((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx)
                     * 1000.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
                   AS slope_per_kchar
        FROM mom)
    SELECT p.decile, p.n_docs, p.mean_len, p.mean_reward,
           s.corr, s.slope_per_kchar
    FROM per p, stats s
    ORDER BY p.decile
    """,
)
def eval_reward_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — REWARD LENGTH-BIAS AUDIT: the verbosity-bias check
    every LLM-judge/reward-model pipeline owes its users (judges
    systematically over-reward longer answers; an unaudited reward
    channel silently optimizes for length).  Two readouts over the
    (length, reward) pairs: the per-length-decile mean-reward table
    (the visual — equal-population deciles via global rank) and the
    exact Pearson correlation + regression slope per 1k chars (the
    scalar verdicts).  On the hash-channel reward the corr is ~0 —
    the law tests plant reward = length and watch corr hit 1 and the
    decile means turn strictly monotone.

    Exactness: all five co-moment sums are exact int64 (the 16-bit
    reward bound keeps Σx·y inside int64 at ANY corpus size); corr and
    slope are fixed scalar trees on the one-row moment relation,
    quantized at final projection; decile means are integer DIV.

    100 TB: one scan feeds both the moment collapse (map-side to one
    row) and the decile rank; the rank is the two-phase global_rank
    shape (range exchange, no single-reducer sort).

    Reference parity: the reference's QC tier cross-checks derived
    metrics against their drivers (dags/pipeline_orchestration_dag
    .py:121-141); this is that check for a learned scoring column.
    """
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    docs = load_table(spark, sf_dir, "documents")
    y = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rlb:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    scored = docs.select(
        F.col("doc_id"),
        F.col("n_chars").cast("long").alias("x"),
        y.alias("y"),
    )
    scored = scored.localCheckpoint(eager=False)  # rank + moment consumers
    ranked = global_rank(
        scored, [F.col("x"), F.col("doc_id")], rank_col="rn"
    )
    n_all = ranked.count()
    dec = ranked.select(
        F.expr(f"CAST(((rn - 1) * 10) DIV {n_all} AS BIGINT)").alias(
            "decile"
        ),
        "x",
        "y",
    )
    per = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("mean_len"),
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("mean_reward"),
    )
    mom = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    stats = mom.select(
        roundn(cov / F.sqrt(vx * vy), 6).alias("corr"),
        roundn(cov / vx * F.lit(1000.0), 4).alias("slope_per_kchar"),
    )
    return (
        per.crossJoin(F.broadcast(stats))
        .select(
            "decile", "n_docs", "mean_len", "mean_reward",
            "corr", "slope_per_kchar",
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# eval_bandit_replay — offline policy evaluation by replay
# --------------------------------------------------------------------------

@query(
    "eval_bandit_replay",
    oracle=f"""
    WITH logged AS (
        SELECT user_id, event_type AS action,
               CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)
                   AS reward_cents
        FROM events),
    pols AS (
        SELECT 'logged' AS policy, user_id, action AS chosen,
               action, reward_cents
        FROM logged
        UNION ALL
        SELECT 'hash_personalized', user_id,
               CASE CAST(CAST('0x' || SUBSTR(md5('pi:'
                         || CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT)
                    % 5 AS BIGINT)
                    WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                    ELSE 'view' END,
               action, reward_cents
        FROM logged
        UNION ALL
        SELECT 'always_purchase', user_id, 'purchase',
               action, reward_cents
        FROM logged),
    matched AS (
        SELECT policy,
               CAST(COUNT(*) AS BIGINT) AS n_logged,
               CAST(SUM(CASE WHEN chosen = action THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               CAST(SUM(CASE WHEN chosen = action THEN reward_cents
                             ELSE 0 END) AS BIGINT) AS matched_cents
        FROM pols GROUP BY policy)
    SELECT policy, n_logged, n_matched,
           CAST((n_matched * 1000000) // n_logged AS BIGINT)
               AS match_ppm,
           CAST(matched_cents // NULLIF(n_matched, 0) AS BIGINT)
               AS mean_reward_cents
    FROM matched
    ORDER BY policy
    """,
)
def eval_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — OFFLINE BANDIT REPLAY (Li et al. 2011): evaluate a
    candidate action policy against LOGGED interaction data without
    deploying it — keep exactly the events where the candidate's
    chosen action equals the logged action, and read the mean logged
    reward over the kept subset (unbiased when logging was uniform;
    the match rate itself audits that assumption — a personalized
    policy over a 5-action uniform log must match ≈ 1/5).  Three
    policies ride one scan: ``logged`` (matches everything — the
    baseline), ``hash_personalized`` (a replayable md5 stand-in for a
    learned per-user policy), and ``always_purchase`` (the constant
    arm).

    Exactness: rewards quantize to cents at the scan; the match rate
    is integer ppm; the mean is integer DIV with a NULLIF guard.

    100 TB: the policy fan-out is an inline projection (3× rows,
    map-side); the rollup collapses to |policies| rows before the only
    exchange.  A real model policy swaps the md5 CASE for a scored
    table join — the replay algebra is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    logged = ev.select(
        "user_id",
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("reward_cents"),
    )
    hash_choice = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("pi:"), F.col("user_id").cast("string"))
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long") % 5
    chosen_hash = (
        F.when(hash_choice == 0, "click")
        .when(hash_choice == 1, "error")
        .when(hash_choice == 2, "purchase")
        .when(hash_choice == 3, "signup")
        .otherwise("view")
    )
    pols = logged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("logged").alias("policy"),
                    F.col("action").alias("chosen"),
                ),
                F.struct(
                    F.lit("hash_personalized").alias("policy"),
                    chosen_hash.alias("chosen"),
                ),
                F.struct(
                    F.lit("always_purchase").alias("policy"),
                    F.lit("purchase").alias("chosen"),
                ),
            )
        ).alias("p"),
        "action",
        "reward_cents",
    ).select("p.*", "action", "reward_cents")
    matched = pols.groupBy("policy").agg(
        F.count("*").cast("long").alias("n_logged"),
        F.sum(
            F.when(F.col("chosen") == F.col("action"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
        F.sum(
            F.when(
                F.col("chosen") == F.col("action"),
                F.col("reward_cents"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("matched_cents"),
    )
    return matched.select(
        "policy",
        "n_logged",
        "n_matched",
        F.expr("CAST((n_matched * 1000000) DIV n_logged AS BIGINT)")
        .alias("match_ppm"),
        F.expr(
            "CAST(matched_cents DIV NULLIF(n_matched, 0) AS BIGINT)"
        ).alias("mean_reward_cents"),
    ).orderBy("policy")


# ---------------------------------------------------------------------------
# eval_agreement_krippendorff — multi-rater reliability with missing
# ratings (r5g wave)
# ---------------------------------------------------------------------------

_KRIPP_ORACLE = """
WITH base AS (
    SELECT doc_id,
           CAST(CAST('0x' || SUBSTR(md5('lbl:' || CAST(doc_id AS VARCHAR)),
                             1, 8) AS BIGINT) % 3 AS INT) AS lbl
    FROM documents),
ratings AS (
    SELECT doc_id, 1 AS rater,
           CASE WHEN SUBSTR(md5('f1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '20'
                THEN (lbl + 1) % 3 ELSE lbl END AS label
    FROM base
    UNION ALL
    SELECT doc_id, 2,
           CASE WHEN SUBSTR(md5('f2:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '40'
                THEN (lbl + 1) % 3 ELSE lbl END
    FROM base
    UNION ALL
    SELECT doc_id, 3,
           CASE WHEN SUBSTR(md5('f3:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     < '30'
                THEN (lbl + 2) % 3 ELSE lbl END
    FROM base
    WHERE SUBSTR(md5('cov:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'b3'),
uc AS (
    SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS v
    FROM ratings GROUP BY 1, 2),
um AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS m,
           CAST(SUM(v * v) AS BIGINT) AS sv2
    FROM uc GROUP BY 1),
pairable AS (SELECT * FROM um WHERE m >= 2),
do2 AS (
    SELECT CAST(SUM((2 * (m * m - sv2)) // (m - 1)) AS BIGINT) AS do2,
           CAST(SUM(m) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_units
    FROM pairable),
marg AS (
    SELECT CAST(SUM(uc.v) AS BIGINT) AS n_c
    FROM uc JOIN pairable p ON p.doc_id = uc.doc_id
    GROUP BY uc.label),
de AS (
    SELECT CAST(SUM(n_c) * SUM(n_c) - SUM(n_c * n_c) AS BIGINT) AS de
    FROM marg)
SELECT do2.n_units, do2.n AS n_values, do2.do2 AS do_scaled, de.de
           AS de_pairs,
       FLOOR((1.0e0 - CAST((do2.n - 1) * do2.do2 AS DOUBLE)
                      / CAST(2 * de.de AS DOUBLE))
             * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS alpha
FROM do2, de
"""


@query("eval_agreement_krippendorff", oracle=_KRIPP_ORACLE)
def eval_agreement_krippendorff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval tier — KRIPPENDORFF'S ALPHA (nominal), the multi-rater
    reliability statistic an LLM-judge pipeline needs where Cohen's
    kappa (eval_agreement_kappa) stops: >=3 raters AND missing ratings
    (rater 3 covers only ~70% of items — real annotation exports are
    never complete).  Computed via the coincidence-matrix formulation:
    per pairable unit (m>=2 ratings), within-unit disagreeing pairs
    weight 1/(m-1); alpha = 1 - Do/De = 1 - (n-1)·Σo_disagree /
    Σ_{c≠k} n_c·n_k.

    Exactness: per-unit disagreement enters as the integer
    2·(m² − Σv_c²) DIV (m−1) — EXACT here because m ∈ {2,3} makes
    (m−1) a divisor of the even numerator; marginals n_c are plain
    counts over pairable units; De = (Σn_c)² − Σn_c²; one double
    division at the end, floor-quantized at 1e-6.  Raters derive from
    doc_id with independent md5 flip coins (12.5%/25%/~19% error, the
    kappa key's convention) and an md5 coverage coin for rater 3.

    100 TB: the whole statistic is two map-side aggregates over the
    (item, rater) relation — unit-grain counts, then scalar readouts;
    the class-marginal table is class-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    lbl = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lbl:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 3
    ).cast("int")

    def coin(salt: str) -> F.Column:
        return F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))),
            1,
            2,
        )

    r1 = docs.select(
        "doc_id",
        F.when(coin("f1") < "20", (lbl + 1) % 3).otherwise(lbl).alias("label"),
    )
    r2 = docs.select(
        "doc_id",
        F.when(coin("f2") < "40", (lbl + 1) % 3).otherwise(lbl).alias("label"),
    )
    r3 = docs.filter(coin("cov") < "b3").select(
        "doc_id",
        F.when(coin("f3") < "30", (lbl + 2) % 3).otherwise(lbl).alias("label"),
    )
    ratings = r1.unionByName(r2).unionByName(r3)
    uc = ratings.groupBy("doc_id", "label").agg(
        F.count("*").cast("long").alias("v")
    )
    uc = uc.localCheckpoint(eager=False)  # unit totals + marginals
    um = uc.groupBy("doc_id").agg(
        F.sum("v").cast("long").alias("m"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sv2"),
    )
    pairable = um.filter(F.col("m") >= 2)
    pairable = pairable.localCheckpoint(eager=False)  # do + marginal filter
    do2 = pairable.agg(
        F.sum(
            F.expr("(2 * (m * m - sv2)) DIV (m - 1)")
        ).cast("long").alias("do2"),
        F.sum("m").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_units"),
    )
    marg = (
        uc.join(pairable.select("doc_id"), "doc_id")
        .groupBy("label")
        .agg(F.sum("v").cast("long").alias("n_c"))
    )
    de = marg.agg(
        (
            F.sum("n_c") * F.sum("n_c") - F.sum(F.col("n_c") * F.col("n_c"))
        )
        .cast("long")
        .alias("de")
    )
    return do2.crossJoin(F.broadcast(de)).select(
        "n_units",
        F.col("n").alias("n_values"),
        F.col("do2").alias("do_scaled"),
        F.col("de").alias("de_pairs"),
        roundn(
            F.lit(1.0)
            - ((F.col("n") - 1) * F.col("do2")).cast("double")
            / (F.lit(2) * F.col("de")).cast("double"),
            6,
        ).alias("alpha"),
    )
