"""Round-8 wave: graph topology, training-prep sampling, and eval
metrics.

* ``graph_rich_club`` — rich-club coefficient φ(k) over the part
  co-purchase graph: do high-degree nodes preferentially link to each
  other?  The hub-interconnection diagnostic beside assortativity
  (graph_assortativity measures the correlation; φ(k) measures the
  actual subgraph density ladder).
* ``sample_class_balanced`` — deterministic class-balanced
  downsampling (every class cut to the minority count by portable
  hash rank) — the standard rebalancing step before training a
  classifier on skewed labels.
* ``eval_wer`` — word error rate via TOKEN-level edit distance: the
  vocabulary is dense-ranked to single ASCII symbols so the engines'
  native character Levenshtein computes token distance exactly.
* ``eval_brier_decomposition`` — Brier score with the exact Murphy
  decomposition (reliability − resolution + uncertainty) on binned
  forecasts, over the same planted eval log as eval_calibration_ece.

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) contains no analytics engine;
these derive from the driver's analytics mandate on public formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48, u48
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# graph_rich_club
# ---------------------------------------------------------------------------

#: degree thresholds probed (the part co-purchase degree range is
#: SF-stable: basket width and part popularity are per-order domain
#: properties, not corpus-size properties — measured 42..222 at both
#: sf0.01 and sf0.1)
_RC_KS = (60, 80, 100, 120, 140, 160, 180)


def _rich_club_oracle() -> str:
    ks = ", ".join(str(k) for k in _RC_KS)
    return f"""
    WITH pl AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS sa, b.l_partkey AS sb
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    g AS (SELECT sa AS u FROM e UNION ALL SELECT sb FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM g GROUP BY 1),
    tot AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS m),
    ks AS (SELECT CAST(UNNEST([{ks}]) AS BIGINT) AS k),
    rich AS (
        SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_rich
        FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1),
    re AS (
        SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_rich
        FROM ks
        JOIN e ON TRUE
        JOIN deg da ON da.u = e.sa AND da.d > ks.k
        JOIN deg db ON db.u = e.sb AND db.d > ks.k
        GROUP BY 1)
    SELECT rich.k, rich.n_rich, COALESCE(re.e_rich, 0) AS e_rich,
           {sql_roundn(
               "2.0e0 * COALESCE(re.e_rich, 0)"
               " / (rich.n_rich * (rich.n_rich - 1.0e0))", 6)} AS phi,
           {sql_roundn(
               "(2.0e0 * COALESCE(re.e_rich, 0)"
               " / (rich.n_rich * (rich.n_rich - 1.0e0)))"
               " / (2.0e0 * tot.m / (tot.n * (tot.n - 1.0e0)))", 6)}
               AS phi_over_density
    FROM rich LEFT JOIN re USING (k) CROSS JOIN tot
    WHERE rich.n_rich >= 2
    ORDER BY rich.k
    """


@query("graph_rich_club", oracle=_rich_club_oracle())
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph tier — RICH-CLUB coefficient (Zhou & Mondragón 2004):
    φ(k) = 2·E_k / (N_k(N_k−1)) over the subgraph of nodes with degree
    > k, for the fixed threshold ladder k ∈ {ks} on the part
    co-purchase graph — rising φ(k)/density means popular parts
    co-occur with each OTHER beyond chance (bundle structure), the
    hub-interconnection signal beside graph_assortativity's single
    correlation number.  (The degree-preserving null-model
    normalization φ_norm requires randomized rewiring — documented
    out-of-scope; φ/ρ against the whole-graph density ρ is the
    deterministic first-order version.)

    Exactness: degrees, N_k and E_k are exact integer counts over the
    DISTINCT edge relation; φ and φ/ρ are one rational expression
    rounded 6 dp; thresholds with fewer than 2 qualifying nodes drop
    in both engines.

    100 TB: edges are generated per order (Σ C(basket,2), basket-width
    bounded — never |parts|²); the degree relation is node-sized and
    broadcast to the edge scan; each threshold row is two
    map-side-combined counts."""
    li = load_table(spark, sf_dir, "lineitem")
    pl = li.select("l_orderkey", "l_partkey").distinct()
    e = (
        pl.alias("a")
        .join(
            pl.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("sa"),
            F.col("b.l_partkey").alias("sb"),
        )
        .distinct()
    )
    e = e.localCheckpoint(eager=False)  # deg + tot + per-k counts
    g = e.select(F.col("sa").alias("u")).unionAll(
        e.select(F.col("sb").alias("u"))
    )
    deg = g.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    tot = deg.agg(F.count("*").cast("long").alias("n")).crossJoin(
        e.agg(F.count("*").cast("long").alias("m"))
    )
    # the k spine is a compile-time literal ladder: explode it map-side
    # per row and filter — no threshold join plans at all
    ks_arr = F.array(*[F.lit(int(k)).cast("long") for k in _RC_KS])
    rich = (
        deg.select("d", F.explode(ks_arr).alias("k"))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_rich"))
    )
    re = (
        e.join(
            F.broadcast(deg.select(F.col("u").alias("ua"),
                                   F.col("d").alias("da"))),
            F.col("sa") == F.col("ua"),
        )
        .join(
            F.broadcast(deg.select(F.col("u").alias("ub"),
                                   F.col("d").alias("db"))),
            F.col("sb") == F.col("ub"),
        )
        .select(
            F.least("da", "db").alias("dmin"),
            F.explode(ks_arr).alias("k"),
        )
        .filter(F.col("dmin") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("e_rich"))
    )
    phi = (
        F.lit(2.0)
        * F.coalesce(F.col("e_rich"), F.lit(0))
        / (F.col("n_rich") * (F.col("n_rich") - F.lit(1.0)))
    )
    dens = F.lit(2.0) * F.col("m") / (F.col("n") * (F.col("n") - F.lit(1.0)))
    return (
        rich.join(re, "k", "left")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_rich") >= 2)
        .select(
            "k",
            "n_rich",
            F.coalesce(F.col("e_rich"), F.lit(0)).cast("long").alias(
                "e_rich"
            ),
            roundn(phi, 6).alias("phi"),
            roundn(phi / dens, 6).alias("phi_over_density"),
        )
        .orderBy("k")
    )


graph_rich_club.__doc__ = graph_rich_club.__doc__.format(ks=list(_RC_KS))


# ---------------------------------------------------------------------------
# sample_class_balanced
# ---------------------------------------------------------------------------


def _balanced_oracle() -> str:
    return f"""
    WITH cnt AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before
        FROM embeddings GROUP BY 1),
    mn AS (SELECT CAST(MIN(n_before) AS BIGINT) AS n_min FROM cnt),
    rk AS (
        SELECT label, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY label
                   ORDER BY md5('bal:' || CAST(vec_id AS VARCHAR)), vec_id)
                   AS rn
        FROM embeddings),
    sel AS (
        SELECT rk.label,
               CAST(COUNT(*) AS BIGINT) AS n_after,
               CAST(SUM(rk.vec_id) AS BIGINT) AS id_checksum
        FROM rk CROSS JOIN mn WHERE rk.rn <= mn.n_min
        GROUP BY 1)
    SELECT cnt.label, cnt.n_before, sel.n_after, sel.id_checksum
    FROM cnt JOIN sel USING (label)
    ORDER BY cnt.label
    """


@query("sample_class_balanced", oracle=_balanced_oracle())
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training prep — deterministic CLASS-BALANCED downsampling: every
    label is cut to the minority class's count, keeping each class's
    lowest portable-hash ranks (md5 of the salted id — a seeded,
    re-runnable draw, not a sample() that changes under partitioning).
    The standard rebalancing step before training on skewed labels;
    the id checksum makes the SELECTION itself (not just its size)
    part of the differential contract.

    Exactness: ranks are total-ordered by (md5, id); counts and the
    checksum are exact int64.

    100 TB: one count per class (map-side combined), one broadcast of
    the 10-row class table, one rank window partitioned per class —
    the window carries (label, hash) pairs only; at warehouse scale
    the same plan swaps the full sort for a per-class hash-threshold
    refined in two passes (documented in sample_hash_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cnt = emb.groupBy("label").agg(
        F.count("*").cast("long").alias("n_before")
    )
    mn = cnt.agg(F.min("n_before").cast("long").alias("n_min"))
    wr = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    sel = (
        emb.select("label", "vec_id")
        .withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(mn))
        .filter(F.col("rn") <= F.col("n_min"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_after"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
    )
    return (
        cnt.join(sel, "label")
        .select("label", "n_before", "n_after", "id_checksum")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# eval_wer
# ---------------------------------------------------------------------------

#: the OOV token the noisy-channel candidate substitutes (same
#: corruption as eval_bleu/eval_chrf: every 5th token)
_WER_OOV = "qz"


def _wer_oracle() -> str:
    return f"""
    WITH d AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents WHERE len(string_split(text, ' ')) >= 1),
    tok AS (
        SELECT doc_id, source, i AS p, t[i] AS token
        FROM d, UNNEST(range(1, len(t) + 1)) AS u(i)),
    vocab AS (
        SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS r
        FROM (SELECT DISTINCT token FROM tok
              UNION SELECT '{_WER_OOV}')),
    oov AS (SELECT chr(CAST(64 + r AS INT)) AS och FROM vocab
            WHERE token = '{_WER_OOV}'),
    strs AS (
        SELECT tok.doc_id, tok.source,
               CAST(COUNT(*) AS BIGINT) AS ref_len,
               string_agg(chr(CAST(64 + vocab.r AS INT)), '' ORDER BY tok.p)
                   AS ref_s,
               string_agg(CASE WHEN tok.p % 5 = 0 THEN oov.och
                               ELSE chr(CAST(64 + vocab.r AS INT)) END,
                          '' ORDER BY tok.p) AS cand_s
        FROM tok JOIN vocab USING (token) CROSS JOIN oov
        GROUP BY 1, 2),
    ed AS (
        SELECT source, ref_len,
               CAST(levenshtein(cand_s, ref_s) AS BIGINT) AS edits
        FROM strs)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ref_len) AS BIGINT) AS ref_tokens,
           CAST(SUM(edits) AS BIGINT) AS edit_ops,
           {sql_roundn("SUM(edits) * 1.0e0 / SUM(ref_len) / 1.0e0", 6)}
               AS wer
    FROM ed
    GROUP BY source
    ORDER BY source
    """


@query("eval_wer", oracle=_wer_oracle())
def eval_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — WORD ERROR RATE: corpus WER = Σ token-level edit
    distance / Σ reference length per source, on the same noisy-channel
    candidate as eval_bleu/eval_chrf (every 5th token → OOV), so the
    n-gram-overlap metrics and the alignment metric are directly
    comparable on identical pairs.  WER is the ASR/translation standard
    the overlap metrics cannot replace: it charges insertions and
    deletions through a real alignment, and repetitive text can align
    CHEAPER than the corruption count — which is exactly what the
    differential proves both engines agree on.

    The token→symbol trick: the corpus vocabulary (31 tokens + OOV) is
    dense-ranked to single ASCII characters, so each engine's native
    CHARACTER Levenshtein computes TOKEN-level distance exactly — no
    UDF dynamic program in the hot path.  Production vocabularies
    larger than the single-byte range shard by mapping rare tokens to
    an OOV symbol or running the banded DP as a pandas UDF
    (ts_dtw_banded's cost class); the mapping stays ASCII here so both
    engines' Levenshteins count the same units.

    Exactness: the vocabulary rank is a total order on token strings;
    distances and lengths are exact integers; WER is one division.

    100 TB: one token explode; the vocabulary is a broadcast-sized
    relation BY CONSTRUCTION of the symbol mapping; per-doc strings
    re-assemble in one sorted-struct aggregate (doc-length state); the
    Levenshtein is per-row JVM codegen."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 1)
    tok = d.select(
        "doc_id",
        "source",
        F.posexplode("t").alias("p0", "token"),
    ).select("doc_id", "source", (F.col("p0") + 1).alias("p"), "token")
    tok = tok.localCheckpoint(eager=False)  # vocab + strings
    vocab = (
        tok.select("token")
        .distinct()
        .unionAll(spark.createDataFrame([(_WER_OOV,)], "token STRING"))
        .distinct()
        .select(
            "token",
            F.row_number().over(Window.orderBy("token")).alias("r"),
        )
        .select(
            "token",
            # Spark's char() wraps mod 256, so a vocabulary whose max
            # rank pushes 64+r past 255 would silently COLLIDE symbols
            # (undercounted WER) while DuckDB's chr() moves to
            # multi-byte code points — fail fast at the boundary
            # instead of returning a silently wrong metric (the
            # documented shard-to-OOV / banded-DP paths take over for
            # larger vocabularies)
            F.when(
                F.col("r") > 191,
                F.expr(
                    "raise_error('eval_wer: vocabulary exceeds the "
                    "single-byte symbol range (191 tokens + OOV); "
                    "shard rare tokens to OOV or use the banded-DP "
                    "pandas UDF path')"
                ),
            )
            .otherwise(F.expr("char(64 + r)"))
            .alias("ch"),
        )
    )
    oov = vocab.filter(F.col("token") == _WER_OOV).select(
        F.col("ch").alias("och")
    )
    strs = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("ref_len"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "ch"))),
                    lambda s: s["ch"],
                ),
            ).alias("ref_s"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "p",
                                F.when(
                                    F.col("p") % 5 == 0, F.col("och")
                                )
                                .otherwise(F.col("ch"))
                                .alias("cch"),
                            )
                        )
                    ),
                    lambda s: s["cch"],
                ),
            ).alias("cand_s"),
        )
    )
    ed = strs.select(
        "source",
        "ref_len",
        F.levenshtein("cand_s", "ref_s").cast("long").alias("edits"),
    )
    return (
        ed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ref_len").cast("long").alias("ref_tokens"),
            F.sum("edits").cast("long").alias("edit_ops"),
            roundn(
                F.sum("edits") * F.lit(1.0) / F.sum("ref_len") / F.lit(1.0),
                6,
            ).alias("wer"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# eval_brier_decomposition
# ---------------------------------------------------------------------------

def _brier_oracle() -> str:
    # the planted eval log of eval_calibration_ece (salts c/z), binned to
    # 10 bins with MIDPOINT forecasts so the Murphy identity is EXACT
    u1 = sql_u48("c")
    u2 = sql_u48("z")
    return f"""
    WITH log AS (
        SELECT LEAST(CAST(FLOOR((0.05e0 + 0.9e0 * ({u1})) * 10000.0e0
                                + 0.5e0) AS BIGINT) // 1000, 9) AS bin,
               CASE WHEN ({u2}) < GREATEST(
                        (0.05e0 + 0.9e0 * ({u1})) - 0.08e0, 0.0e0)
                    THEN 1 ELSE 0 END AS o
        FROM orders),
    b AS (
        SELECT bin, bin * 1000 + 500 AS mid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o) AS BIGINT) AS k
        FROM log GROUP BY 1),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(k) AS BIGINT) AS kt
        FROM b),
    parts AS (
        SELECT
            CAST(SUM(b.n * b.mid * b.mid - 2 * 10000 * b.k * b.mid
                     + 100000000 * b.k) AS BIGINT) AS brier_num,
            CAST(SUM(CAST(FLOOR(
                (b.n * 1.0e0 * b.mid - 10000.0e0 * b.k)
                * (b.n * 1.0e0 * b.mid - 10000.0e0 * b.k)
                / (b.n * 100000000.0e0 * t.nt)
                * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS rel_q,
            CAST(SUM(CAST(FLOOR(
                (t.nt * 1.0e0 * b.k - b.n * 1.0e0 * t.kt)
                * (t.nt * 1.0e0 * b.k - b.n * 1.0e0 * t.kt)
                / (b.n * 1.0e0 * t.nt * t.nt * t.nt)
                * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS res_q
        FROM b CROSS JOIN t)
    SELECT t.nt AS n_total,
           {sql_roundn("t.kt * 1.0e0 / t.nt / 1.0e0", 6)} AS base_rate,
           {sql_roundn(
               "parts.brier_num * 1.0e0 / (100000000.0e0 * t.nt)"
               " / 1.0e0", 6)} AS brier,
           {sql_roundn("parts.rel_q / 1000000000.0e0 / 1.0e0", 6)}
               AS reliability,
           {sql_roundn("parts.res_q / 1000000000.0e0 / 1.0e0", 6)}
               AS resolution,
           {sql_roundn(
               "t.kt * 1.0e0 * (t.nt - t.kt) / (t.nt * 1.0e0 * t.nt)"
               " / 1.0e0", 6)} AS uncertainty
    FROM parts CROSS JOIN t
    """


@query("eval_brier_decomposition", oracle=_brier_oracle())
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — BRIER SCORE with the exact MURPHY decomposition
    (Murphy 1973): Brier = reliability − resolution + uncertainty over
    the 10-bin forecaster (bin-midpoint confidences), on the SAME
    planted overconfident eval log as eval_calibration_ece — ECE reads
    the |gap| ladder, Brier charges it quadratically and splits the
    blame: reliability (calibration error — fixable by recalibration),
    resolution (discrimination — only a better model buys it),
    uncertainty (the base rate's floor, nobody's fault).  Binning to
    midpoints is what makes the identity EXACT (within-bin forecast
    variance is zero by construction).

    Exactness: the Brier numerator is an exact int64 over bin sums
    (n·mid² − 2·10⁴·k·mid + 10⁸·k); per-bin reliability/resolution
    terms quantize ONCE to nano-units and int-sum across the 10 fixed
    bins (the squared numerators exceed int64 at warehouse scale, so
    they evaluate in doubles with IDENTICAL expression trees on both
    engines); uncertainty is one rational expression.

    100 TB: one map-side-combined 10-group aggregate plus a one-row
    broadcast — the eval_calibration_ece cost class exactly."""
    orders = load_table(spark, sf_dir, "orders")
    u1 = u48("c")
    u2 = u48("z")
    conf = F.lit(0.05) + F.lit(0.9) * u1
    c_int = F.floor(conf * F.lit(10000.0) + F.lit(0.5)).cast("long")
    o = (u2 < F.greatest(conf - F.lit(0.08), F.lit(0.0))).cast("int")
    log = orders.select(
        F.least(c_int / F.lit(1000), F.lit(9.0)).cast("long").alias("bin"),
        o.alias("o"),
    )
    b = log.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o").cast("long").alias("k"),
    ).withColumn("mid", (F.col("bin") * 1000 + 500).cast("long"))
    b = b.localCheckpoint(eager=False)  # totals + parts
    t = b.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("k").cast("long").alias("kt"),
    )
    bt = b.crossJoin(F.broadcast(t))
    rel_num = (
        F.col("n") * F.lit(1.0) * F.col("mid")
        - F.lit(10000.0) * F.col("k")
    )
    res_num = (
        F.col("nt") * F.lit(1.0) * F.col("k")
        - F.col("n") * F.lit(1.0) * F.col("kt")
    )
    parts = bt.agg(
        F.sum(
            F.col("n") * F.col("mid") * F.col("mid")
            - F.lit(2) * F.lit(10000) * F.col("k") * F.col("mid")
            + F.lit(100000000) * F.col("k")
        )
        .cast("long")
        .alias("brier_num"),
        F.sum(
            F.floor(
                rel_num
                * rel_num
                / (F.col("n") * F.lit(100000000.0) * F.col("nt"))
                * F.lit(1.0e9)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("rel_q"),
        F.sum(
            F.floor(
                res_num
                * res_num
                / (
                    F.col("n")
                    * F.lit(1.0)
                    * F.col("nt")
                    * F.col("nt")
                    * F.col("nt")
                )
                * F.lit(1.0e9)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("res_q"),
    )
    return (
        parts.crossJoin(F.broadcast(t))
        .select(
            F.col("nt").alias("n_total"),
            roundn(
                F.col("kt") * F.lit(1.0) / F.col("nt") / F.lit(1.0), 6
            ).alias("base_rate"),
            roundn(
                F.col("brier_num")
                * F.lit(1.0)
                / (F.lit(100000000.0) * F.col("nt"))
                / F.lit(1.0),
                6,
            ).alias("brier"),
            roundn(F.col("rel_q") / F.lit(1.0e9) / F.lit(1.0), 6).alias(
                "reliability"
            ),
            roundn(F.col("res_q") / F.lit(1.0e9) / F.lit(1.0), 6).alias(
                "resolution"
            ),
            roundn(
                F.col("kt")
                * F.lit(1.0)
                * (F.col("nt") - F.col("kt"))
                / (F.col("nt") * F.lit(1.0) * F.col("nt"))
                / F.lit(1.0),
                6,
            ).alias("uncertainty"),
        )
    )


# ---------------------------------------------------------------------------
# eval_auc_pr
# ---------------------------------------------------------------------------

#: the md5 label coin (~30% prevalence) of eval_auc_roc, which also
#: shares its salt-"s" score draw, so ROC-AUC and PR-AUC read one model
_PR_POS_SQL = "SUBSTR(md5('y:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '4d'"


def _auc_pr_oracle() -> str:
    return f"""
    WITH scored AS (
        SELECT FLOOR((0.6e0 * ({sql_u48("s")}) +
                      CASE WHEN {_PR_POS_SQL} THEN 0.4e0 ELSE 0.0e0 END)
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS score,
               CASE WHEN {_PR_POS_SQL} THEN 1 ELSE 0 END AS pos
        FROM orders),
    g AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS n_s,
               CAST(SUM(pos) AS BIGINT) AS p_s
        FROM scored GROUP BY score),
    rk AS (
        SELECT score, n_s, p_s,
               CAST(SUM(n_s) OVER w AS BIGINT) AS cum,
               CAST(SUM(p_s) OVER w AS BIGINT) AS tp
        FROM g
        WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
    tot AS (
        SELECT CAST(SUM(p_s) AS BIGINT) AS p,
               CAST(SUM(n_s - p_s) AS BIGINT) AS n
        FROM g),
    terms AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   rk.p_s * 1.0e0 * rk.tp / (tot.p * 1.0e0 * rk.cum)
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS apq
        FROM rk CROSS JOIN tot WHERE rk.p_s > 0)
    SELECT tot.p AS n_pos, tot.n AS n_neg,
           {sql_roundn("terms.apq / 1000000000.0e0 / 1.0e0", 6)}
               AS auc_pr,
           {sql_roundn("tot.p * 1.0e0 / (tot.p + tot.n) / 1.0e0", 6)}
               AS baseline,
           {sql_roundn(
               "(terms.apq / 1000000000.0e0)"
               " / (tot.p * 1.0e0 / (tot.p + tot.n))", 4)} AS lift
    FROM terms CROSS JOIN tot
    """


@query("eval_auc_pr", oracle=_auc_pr_oracle())
def eval_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — area under the PRECISION-RECALL curve (average
    precision, the step-function definition sklearn reports) on the
    SAME scored eval log as eval_auc_roc: AP = Σ_s (ΔR_s)·P_s over
    distinct scores descending, where each score group contributes
    (p_s/P)·(TP_s/cum_s).  ROC-AUC flatters a classifier at 30%
    prevalence (the negatives dominate FPR); PR-AUC is the number that
    moves when the minority class is what matters, and lift =
    AP/prevalence is the one-number skill readout.

    Exactness: scores are 6-dp-quantized BEFORE grouping (identical
    tie groups); cumulative TP/count come from the two-phase
    global-rank cumsum (never a one-reducer sort); each group's exact
    rational term quantizes ONCE to nano-units and int-sums in any
    order.

    100 TB: one map-side-combined score-group aggregate, the
    scale-safe global cumsum (operators/scale.global_rank), a 1-row
    totals broadcast."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    orders = load_table(spark, sf_dir, "orders")
    u = u48("s")
    pos = F.substring(
        F.md5(F.concat(F.lit("y:"), F.col("o_orderkey").cast("string"))),
        1,
        2,
    ) < "4d"
    score = (
        F.floor(
            (
                F.lit(0.6) * u
                + F.when(pos, F.lit(0.4)).otherwise(F.lit(0.0))
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    scored = orders.select(
        score.alias("score"), pos.cast("int").alias("pos")
    )
    g = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("p_s"),
    )
    g = g.localCheckpoint(eager=False)  # rank + totals
    rk = global_rank(
        g,
        [F.col("score").desc()],
        rank_col="__rn",
        cumsums=[("n_s", "cum"), ("p_s", "tp")],
    )
    tot = g.agg(
        F.sum("p_s").cast("long").alias("p"),
        F.sum(F.col("n_s") - F.col("p_s")).cast("long").alias("n"),
    )
    terms = (
        rk.filter(F.col("p_s") > 0)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(
                    F.col("p_s")
                    * F.lit(1.0)
                    * F.col("tp")
                    / (F.col("p") * F.lit(1.0) * F.col("cum"))
                    * F.lit(1.0e9)
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("apq")
        )
    )
    ap = F.col("apq") / F.lit(1.0e9)
    base = F.col("p") * F.lit(1.0) / (F.col("p") + F.col("n"))
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        roundn(ap / F.lit(1.0), 6).alias("auc_pr"),
        roundn(base / F.lit(1.0), 6).alias("baseline"),
        roundn(ap / base, 4).alias("lift"),
    )


# ---------------------------------------------------------------------------
# eval_err — expected reciprocal rank over the shared ANN eval ranking
# ---------------------------------------------------------------------------

def _err_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.plans.llm import _sim_lsh_cte

    return f"""
    WITH {_sim_lsh_cte()},
    j AS (
        SELECT a.query_id, a.rank AS apos,
               (COALESCE(11 - e.rank, 0) + 2) // 3 AS grade
        FROM lsh_top a
        LEFT JOIN exact_top e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
    pq AS (
        SELECT query_id, apos,
               CAST(2 ** grade - 1 AS BIGINT) AS pnum,
               CAST(17 - 2 ** grade AS BIGINT) AS qnum
        FROM j),
    pr AS (
        SELECT query_id, apos, pnum,
               COALESCE(PRODUCT(qnum) OVER (
                   PARTITION BY query_id ORDER BY apos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   1.0e0) AS pref
        FROM pq),
    t AS (
        SELECT query_id,
               CAST(SUM(CAST(FLOOR(
                   pnum * pref / (16.0e0 ** apos) / apos
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS eq,
               CAST(SUM(CASE WHEN pnum > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel
        FROM pr GROUP BY query_id)
    SELECT query_id, n_rel,
           {sql_roundn("eq / 1000000000.0e0 / 1.0e0", 6)} AS err
    FROM t
    ORDER BY query_id
    """


@query("eval_err", oracle=_err_oracle())
def eval_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — EXPECTED RECIPROCAL RANK (Chapelle et al. 2009) on
    the shared ANN eval ranking (exact top-10 vs the LSH rung, the
    eval_mrr_ndcg relation): the CASCADE model — a user scans down,
    stops at rank r with probability p_r = (2^g − 1)/16, and ERR =
    Σ_r (1/r)·p_r·Π_{{i<r}}(1 − p_i).  NDCG pays every relevant result
    positionally; ERR charges a relevant result MORE when the results
    above it were already good — the metric that separates "one great
    hit then noise" from "uniform mediocrity", which MRR (first hit
    only) and NDCG (no interaction) both blur.

    Exactness: grades fold rel 1–10 to 0–4 so every stop probability
    is a /16 dyadic rational and the prefix products are EXACT int64
    (≤ 16^10 = 2^40): Spark folds them in rank order with one
    in-array F.aggregate per query; DuckDB uses a PRODUCT() window —
    two constructions of the same exact integers; each rank's term
    quantizes ONCE to nano-units and int-sums.

    100 TB: both rankings are the session-cached relations; ERR adds
    one ≤10-element fold per query — query-count state."""
    from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
    from gcp_de_data_pipeline_cc_spark.plans.llm import exact_topk10

    exact = exact_topk10(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("erank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    approx = sim.cosine_topk_lsh_portable(
        queries, emb, k=10, n_tables=8, bits=4, dim=64
    ).select("query_id", "neighbor_id", F.col("rank").alias("apos"))
    grade = F.floor(
        (F.coalesce(11 - F.col("erank"), F.lit(0)) + 2) / F.lit(3)
    ).cast("long")
    j = approx.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "apos",
        (F.pow(F.lit(2.0), grade).cast("long") - 1).alias("pnum"),
        (F.lit(17) - F.pow(F.lit(2.0), grade).cast("long")).alias("qnum"),
    )
    arr = j.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("apos", "pnum", "qnum"))
        ).alias("arr"),
        F.sum(F.when(F.col("pnum") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
    )
    folded = F.aggregate(
        F.col("arr"),
        F.struct(
            F.lit(1).cast("long").alias("pref"),
            F.lit(0).cast("long").alias("acc"),
        ),
        lambda s, x: F.struct(
            (s["pref"] * x["qnum"]).alias("pref"),
            (
                s["acc"]
                + F.floor(
                    x["pnum"]
                    * s["pref"]
                    / F.pow(F.lit(16.0), x["apos"])
                    / x["apos"]
                    * F.lit(1.0e9)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("acc"),
        ),
        lambda s: s["acc"],
    )
    return (
        arr.select(
            "query_id",
            "n_rel",
            roundn(folded / F.lit(1.0e9) / F.lit(1.0), 6).alias("err"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# stats_siegel_tukey
# ---------------------------------------------------------------------------

#: the two compared treatment arms (deterministic literals)
_ST_A = "1-URGENT"
_ST_B = "5-LOW"
_ST_Z_CRIT = 1.959964


def _siegel_tukey_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT o_orderpriority AS grp,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents,
               o_orderkey AS id
        FROM orders
        WHERE o_orderpriority IN ('{_ST_A}', '{_ST_B}')),
    pos AS (
        SELECT grp, cents,
               ROW_NUMBER() OVER (ORDER BY cents, id) AS p,
               COUNT(*) OVER () AS n
        FROM v),
    st AS (
        SELECT grp, cents, n,
               CASE
                 WHEN p < n + 1 - p THEN 2 * p - (p % 2)
                 WHEN p > n + 1 - p
                      THEN 2 * (n + 1 - p)
                           - CASE WHEN (n + 1 - p) % 2 = 0
                                  THEN 1 ELSE 0 END
                 ELSE n
               END AS r
        FROM pos),
    avgr AS (
        SELECT grp, n,
               CAST(SUM(r) OVER (PARTITION BY cents) AS BIGINT) AS rs,
               CAST(COUNT(*) OVER (PARTITION BY cents) AS BIGINT) AS rc
        FROM st),
    s AS (
        SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN grp = '{_ST_A}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN grp = '{_ST_B}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN grp = '{_ST_A}' THEN
                   CAST(FLOOR(rs * 1000000000.0e0 / rc + 0.5e0) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS waq
        FROM avgr),
    z AS (
        SELECT n, na, nb, waq,
               (waq / 1000000000.0e0 - na * (n + 1.0e0) / 2.0e0)
               / sqrt(na * 1.0e0 * nb * (n + 1.0e0) / 12.0e0) AS zs
        FROM s)
    SELECT na AS n_a, nb AS n_b,
           {sql_roundn("waq / 1000000000.0e0 / 1.0e0", 4)} AS w_a,
           {sql_roundn("zs / 1.0e0", 4)} AS z,
           ABS(zs) > {_ST_Z_CRIT}e0 AS reject_05
    FROM z
    """


@query("stats_siegel_tukey", oracle=_siegel_tukey_oracle())
def stats_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats tier — SIEGEL–TUKEY rank-dispersion test: do '{a}' and
    '{b}' orders have the same price SPREAD?  Ranks are assigned
    outside-in on the pooled sort (lowest→1, two highest→2,3, next two
    lowest→4,5, …), so a group concentrated at the EXTREMES collects
    the small ranks; Mann–Whitney on these alternating ranks then
    tests dispersion where the ordinary MW tests location — the
    distribution-free Levene alternative (stats_levene_bf) with no
    moment assumptions at all.

    Exactness: prices snap to integer cents; positions come from a
    deterministic (cents, id) total order; the outside-in rank is one
    integer CASE; tied VALUES average their alternating ranks as an
    exact rational (rank-sum/count per cents group) quantized ONCE to
    nano-units; z uses the no-tie MW variance (documented — the tie
    correction at cent grain moves z below the rounding grain).

    100 TB: one filtered scan; the position rank is the two-phase
    global_rank pattern at warehouse scale (here the pooled relation
    is two priority classes of one fact table); everything after is
    value-group windows and one 1-row reduce."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.filter(
        F.col("o_orderpriority").isin(_ST_A, _ST_B)
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderkey").alias("id"),
    )
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    v = v.localCheckpoint(eager=False)  # rank + total
    pos = global_rank(v, [F.col("cents"), F.col("id")], rank_col="p")
    # pooled count as a 1-row broadcast — a global count(*) window here
    # would funnel the whole pooled relation through one reducer
    pos = pos.crossJoin(
        F.broadcast(v.agg(F.count("*").cast("long").alias("n")))
    )
    q = F.col("n") + 1 - F.col("p")
    r = (
        F.when(F.col("p") < q, 2 * F.col("p") - (F.col("p") % 2))
        .when(
            F.col("p") > q,
            2 * q - F.when(q % 2 == 0, 1).otherwise(0),
        )
        .otherwise(F.col("n"))
    )
    st = pos.select("grp", "cents", "n", r.alias("r"))
    wv = Window.partitionBy("cents")
    avgr = st.select(
        "grp",
        "n",
        F.sum("r").over(wv).cast("long").alias("rs"),
        F.count("*").over(wv).cast("long").alias("rc"),
    )
    s = avgr.agg(
        F.any_value("n").cast("long").alias("n"),
        F.sum(F.when(F.col("grp") == _ST_A, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("grp") == _ST_B, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(
            F.when(
                F.col("grp") == _ST_A,
                F.floor(
                    F.col("rs") * F.lit(1.0e9) / F.col("rc") + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("waq"),
    )
    zs = (
        F.col("waq") / F.lit(1.0e9)
        - F.col("na") * (F.col("n") + F.lit(1.0)) / F.lit(2.0)
    ) / F.sqrt(
        F.col("na")
        * F.lit(1.0)
        * F.col("nb")
        * (F.col("n") + F.lit(1.0))
        / F.lit(12.0)
    )
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        roundn(F.col("waq") / F.lit(1.0e9) / F.lit(1.0), 4).alias("w_a"),
        roundn(zs / F.lit(1.0), 4).alias("z"),
        (F.abs(zs) > F.lit(_ST_Z_CRIT)).alias("reject_05"),
    )


stats_siegel_tukey.__doc__ = stats_siegel_tukey.__doc__.format(
    a=_ST_A, b=_ST_B
)


# ---------------------------------------------------------------------------
# embedding_cka — representation similarity across quantized views
# ---------------------------------------------------------------------------

#: (view name, quantization scale) — the compression ladder compared
#: against the full-precision 2^13 base view
_CKA_VIEWS = (("int8", 127), ("int4", 7), ("sign", 1))
_CKA_BASE_SCALE = 8192
#: the embeddings' width: the per-dimension sums are one row per dim
_CKA_DIM = 64
#: norm-cell quantization grain (1e-6 of the n^2-and-scale-normalized
#: covariance squared)
_CKA_Q = "1000000.0e0"


def _cka_view_sql(name: str, scale: int) -> str:
    if name == "sign":
        qexpr = "CASE WHEN CAST(x AS DOUBLE) > 0.0e0 THEN 1 ELSE -1 END"
    else:
        qexpr = f"CAST(FLOOR(CAST(x AS DOUBLE) * {scale}.0e0 + 0.5e0) AS BIGINT)"
    return f"""
    yd_{name} AS (
        SELECT vec_id, CAST(d AS BIGINT) AS d, CAST({qexpr} AS BIGINT) AS v
        FROM (SELECT vec_id, d, embedding[d] AS x
              FROM embeddings,
                   UNNEST(range(1, len(embedding) + 1)) AS u(d))),
    sy_{name} AS (
        SELECT d, CAST(SUM(v) AS BIGINT) AS s FROM yd_{name} GROUP BY 1),
    yc_{name} AS (
        SELECT y.vec_id, y.d, nn.n * y.v - s.s AS v
        FROM yd_{name} y JOIN sy_{name} s USING (d) CROSS JOIN nn),
    cxy_{name} AS (
        SELECT a.d, b.d AS e,
               SUM(CAST(a.v AS HUGEINT) * b.v) AS c
        FROM xc a JOIN yc_{name} b USING (vec_id)
        GROUP BY 1, 2),
    cyy_{name} AS (
        SELECT a.d, b.d AS e,
               SUM(CAST(a.v AS HUGEINT) * b.v) AS c
        FROM yc_{name} a JOIN yc_{name} b USING (vec_id)
        GROUP BY 1, 2),
    sxy_{name} AS (
        SELECT CAST(SUM(CAST(FLOOR(
            (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                  * {_CKA_BASE_SCALE}.0e0 * {scale}.0e0))
            * (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                    * {_CKA_BASE_SCALE}.0e0 * {scale}.0e0))
            * {_CKA_Q} + 0.5e0) AS BIGINT)) AS BIGINT) AS s
        FROM cxy_{name} CROSS JOIN nn),
    syy_{name} AS (
        SELECT CAST(SUM(CAST(FLOOR(
            (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                  * {scale}.0e0 * {scale}.0e0))
            * (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                    * {scale}.0e0 * {scale}.0e0))
            * {_CKA_Q} + 0.5e0) AS BIGINT)) AS BIGINT) AS s
        FROM cyy_{name} CROSS JOIN nn)"""


def _cka_oracle() -> str:
    bs = _CKA_BASE_SCALE
    views = ",".join(_cka_view_sql(n, s) for n, s in _CKA_VIEWS)
    selects = "\n    UNION ALL\n".join(
        f"""SELECT '{name}' AS view,
           {sql_roundn(
               f"(sxy_{name}.s * 1.0e0)"
               f" / sqrt(sxx.s * 1.0e0 * syy_{name}.s)", 6)} AS cka
    FROM sxy_{name} CROSS JOIN syy_{name} CROSS JOIN sxx"""
        for name, _ in _CKA_VIEWS
    )
    return f"""
    WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    xd AS (
        SELECT vec_id, CAST(d AS BIGINT) AS d,
               CAST(FLOOR(CAST(x AS DOUBLE) * {bs}.0e0 + 0.5e0) AS BIGINT)
                   AS v
        FROM (SELECT vec_id, d, embedding[d] AS x
              FROM embeddings,
                   UNNEST(range(1, len(embedding) + 1)) AS u(d))),
    sx AS (SELECT d, CAST(SUM(v) AS BIGINT) AS s FROM xd GROUP BY 1),
    xc AS (
        SELECT x.vec_id, x.d, nn.n * x.v - s.s AS v
        FROM xd x JOIN sx s USING (d) CROSS JOIN nn),
    cxx AS (
        SELECT a.d, b.d AS e, SUM(CAST(a.v AS HUGEINT) * b.v) AS c
        FROM xc a JOIN xc b USING (vec_id) GROUP BY 1, 2),
    sxx AS (
        SELECT CAST(SUM(CAST(FLOOR(
            (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                  * {bs}.0e0 * {bs}.0e0))
            * (CAST(c AS DOUBLE) / (nn.n * 1.0e0 * nn.n
                                    * {bs}.0e0 * {bs}.0e0))
            * {_CKA_Q} + 0.5e0) AS BIGINT)) AS BIGINT) AS s
        FROM cxx CROSS JOIN nn),
    {views}
    {selects}
    ORDER BY view
    """


@query("embedding_cka", oracle=_cka_oracle())
def embedding_cka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC — linear CKA (centered kernel alignment, Kornblith
    et al. 2019) between the full-precision embedding space and its
    QUANTIZED views (int8 / int4 / sign-bit): CKA =
    ‖Cxy‖²_F / (‖Cxx‖_F·‖Cyy‖_F) over centered cross-covariances —
    the representation-similarity ladder that answers "how much
    GEOMETRY does each compression level keep", upstream of the recall
    ladder (embedding_quantize_eval measures task recall; CKA measures
    the space itself, task-free).  int8 ≈ 1 and the ladder must fall
    monotonically toward the sign bit.

    Exactness: all views quantize to integers; centering n·v − S is
    exact int64 (the Ljung–Box idiom); covariance cells accumulate
    int×int products in DECIMAL(38,0)/HUGEINT — exact in any order;
    the Frobenius norms quantize each of the 64×64 = 4096 cells' scale-
    normalized square ONCE to 1e-6 units and int-sum (order-free);
    CKA is one rational-over-sqrt expression, 6 dp.

    100 TB: per-dim means are 64-row state (one explode pass shared by
    all four views); every covariance matrix then comes from ONE
    Arrow-batched mapInPandas pass emitting partition-local int64 BLAS
    partials onto the FIXED 4096-cell grid (the graph-ANN link-layer
    idiom — a 4096-way explode-join of the same reduction measured
    8.1 s at sf0.1 vs ~2 s for the partials path), with the per-chunk
    row bound chosen so int64 cannot overflow while n·base_scale stays
    under 2.1e9 (≈262k vectors at base scale 8192 — enforced with a
    fail-fast guard; beyond it, drop the base scale or switch the
    partials to decimal accumulation); the 4096-key decimal reduce is
    map-side combined."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    bs = _CKA_BASE_SCALE

    # one explode pass computes per-dim sums for ALL views at once
    xq = F.floor(F.col("x").cast("double") * F.lit(float(bs)) + F.lit(0.5))
    sums = collect_bounded(
        emb.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(xq.cast("long")).cast("long").alias("sx"),
            *[
                F.sum(
                    (
                        F.when(
                            F.col("x").cast("double") > 0.0, F.lit(1)
                        ).otherwise(F.lit(-1))
                        if name == "sign"
                        else F.floor(
                            F.col("x").cast("double") * F.lit(float(sc))
                            + F.lit(0.5)
                        )
                    )
                    .cast("long")
                )
                .cast("long")
                .alias(f"s_{name}")
                for name, sc in _CKA_VIEWS
            ],
        )
        .orderBy("d"),
        _CKA_DIM,
        "CKA per-dimension sums",
    )
    n = int(sums[0]["cnt"])
    s_x = np.array([r["sx"] for r in sums], dtype=np.int64)
    s_v = {
        name: np.array([r[f"s_{name}"] for r in sums], dtype=np.int64)
        for name, _ in _CKA_VIEWS
    }
    view_scales = dict(_CKA_VIEWS)
    mats = ["xx"] + [f"xy_{v}" for v, _ in _CKA_VIEWS] + [
        f"yy_{v}" for v, _ in _CKA_VIEWS
    ]
    # per-chunk row bound so every partial stays inside int64: the
    # largest centered magnitude is n*bs (components unit-scale,
    # asserted below), so chunk * (n*bs)^2 < 2^62 has no overflow —
    # but only while chunk >= 1 is actually safe, i.e. (n*bs)^2 < 2^62
    # itself. Past n ~ 2.6e5 (bs=8192) a SINGLE row's product would
    # wrap, so fail fast instead of silently returning wrapped CKA;
    # the documented escape at that scale is decimal/object partials
    # (slower) or a smaller base scale.
    if float(n) * bs > 2.1e9:
        raise ValueError(
            f"embedding_cka int64 partials are exact only up to "
            f"n*base_scale <= 2.1e9 (n={n}, base_scale={bs}); rerun "
            f"with a smaller _CKA_BASE_SCALE or decimal partials"
        )
    chunk = max(1, int(4.6e18 / float((n * bs) ** 2)))

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            # the n*bs magnitude bound assumes unit-scale components
            assert float(np.abs(E).max()) <= 1.0, (
                "embedding_cka expects unit-scale components; the "
                "int64 chunk bound is invalid otherwise"
            )
            Xq = np.floor(E * bs + 0.5).astype(np.int64)
            Ys = {}
            for name, sc in _CKA_VIEWS:
                if name == "sign":
                    Ys[name] = np.where(E > 0.0, 1, -1).astype(np.int64)
                else:
                    Ys[name] = np.floor(E * sc + 0.5).astype(np.int64)
            for lo in range(0, len(E), chunk):
                hi = lo + chunk
                Xc = n * Xq[lo:hi] - s_x
                acc = {"xx": Xc.T @ Xc}
                for name, _ in _CKA_VIEWS:
                    Yc = n * Ys[name][lo:hi] - s_v[name]
                    acc[f"xy_{name}"] = Xc.T @ Yc
                    acc[f"yy_{name}"] = Yc.T @ Yc
                dd, ee = np.meshgrid(
                    np.arange(64, dtype=np.int64),
                    np.arange(64, dtype=np.int64),
                    indexing="ij",
                )
                frames = []
                for m in mats:
                    frames.append(
                        pd.DataFrame(
                            {
                                "mat": m,
                                "d": dd.ravel(),
                                "e": ee.ravel(),
                                "c": acc[m].ravel(),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

    cells = (
        emb.select("embedding")
        .mapInPandas(partials, "mat STRING, d LONG, e LONG, c LONG")
        .groupBy("mat", "d", "e")
        .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("c"))
    )
    cells = cells.localCheckpoint(eager=False)  # 7 norm readouts

    def fnorm_q(mat: str, sa: int, sb: int, out: str):
        cn = F.col("c").cast("double") / (
            F.lit(float(n)) * F.lit(float(n)) * F.lit(float(sa))
            * F.lit(float(sb))
        )
        return cells.filter(F.col("mat") == mat).agg(
            F.sum(
                F.floor(cn * cn * F.lit(1.0e6) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias(out)
        )

    sxx = fnorm_q("xx", bs, bs, "sxx")
    outs = []
    for name, scale in _CKA_VIEWS:
        sxy = fnorm_q(f"xy_{name}", bs, scale, "sxy")
        syy = fnorm_q(f"yy_{name}", scale, scale, "syy")
        outs.append(
            sxy.crossJoin(F.broadcast(syy))
            .crossJoin(F.broadcast(sxx))
            .select(
                F.lit(name).alias("view"),
                roundn(
                    (F.col("sxy") * F.lit(1.0))
                    / F.sqrt(F.col("sxx") * F.lit(1.0) * F.col("syy")),
                    6,
                ).alias("cka"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("view")
