"""Round-7 wave: index lifecycle completion + retrieval extensions.

``sim_index_rebalance`` closes the loop the r6 verdict named open:
``sim_index_maintenance`` computed a retrain flag "and nothing consumes
it".  Here the flag (plus the bounded-cell size invariant) drives an
actual CELL SPLIT — the production IVF maintenance action — using the
same deterministic rank-chunk quantizer that bounds the ANN /
semantic-dedup builds (operators/similarity.bounded_cells).

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) has no vector-index engine; these
derive from the driver's LLM-pipeline mandate on public PySpark/SQL
patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fan_out, load_table
from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
from gcp_de_data_pipeline_cc_spark.plans import llm
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# sim_index_rebalance — the composed key consuming the retrain flag
# ---------------------------------------------------------------------------


def _rebalance_oracle() -> str:
    cos = sim.SQL_COSINE
    bound = sim.BOUNDED_CELL_SIZE
    plane = sim._bounded_cell_plane()
    lits = "[" + ", ".join(f"{int(x)}.0" for x in plane) + "]"
    return f"""
    WITH {sim.SQL_QUANTIZED_VECTORS},
    base AS (SELECT * FROM e WHERE vec_id % {llm._IDXM_MOD}
                                          < {llm._IDXM_BASE}),
    delta AS (SELECT * FROM e WHERE vec_id % {llm._IDXM_MOD}
                                           >= {llm._IDXM_BASE}),
    {sim.sql_ivf_centroids("base")},
    assigned AS (
        SELECT vec_id, label AS cell FROM (
            SELECT d.vec_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                       {cos.format(a="d.v", b="c.cvec")} DESC,
                       c.label) AS rn
            FROM delta d CROSS JOIN cents c)
        WHERE rn = 1),
    nb AS (SELECT label AS cell, CAST(COUNT(*) AS BIGINT) AS n_base
           FROM base GROUP BY 1),
    nd AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_delta
           FROM assigned GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(COALESCE(n_delta, 0)) AS BIGINT) AS d_tot,
               CAST(SUM(n_base) AS BIGINT) AS b_tot
        FROM nb LEFT JOIN nd USING (cell)),
    flags AS (
        SELECT nb.cell, nb.n_base,
               CAST(COALESCE(nd.n_delta, 0) AS BIGINT) AS n_delta,
               COALESCE(nd.n_delta, 0) * t.b_tot
                   > 2 * t.d_tot * nb.n_base AS retrain_flag,
               (COALESCE(nd.n_delta, 0) * t.b_tot
                   > 2 * t.d_tot * nb.n_base)
                   OR nb.n_base + COALESCE(nd.n_delta, 0) > {bound}
                   AS split
        FROM nb LEFT JOIN nd USING (cell) CROSS JOIN tot t),
    members AS (
        SELECT label AS cell, vec_id, qi FROM base
        UNION ALL
        SELECT a.cell, a.vec_id, d.qi
        FROM assigned a JOIN delta d USING (vec_id)),
    ranked AS (
        SELECT m.cell, f.split,
               ROW_NUMBER() OVER (PARTITION BY m.cell ORDER BY
                   list_dot_product(m.qi, {lits}), m.vec_id) AS rn
        FROM members m JOIN flags f ON f.cell = m.cell),
    sub AS (
        SELECT cell,
               CASE WHEN split
                    THEN CAST(FLOOR((rn - 1) * 1.0e0 / {bound}) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS subcell
        FROM ranked),
    sizes AS (
        SELECT cell, subcell, CAST(COUNT(*) AS BIGINT) AS n
        FROM sub GROUP BY 1, 2),
    roll AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_subcells,
               CAST(MAX(n) AS BIGINT) AS max_subcell,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM sizes GROUP BY 1)
    SELECT f.cell, f.n_base, f.n_delta, r.n_total, f.retrain_flag,
           f.split, r.n_subcells, r.max_subcell
    FROM flags f JOIN roll r ON r.cell = f.cell
    ORDER BY f.cell
    """


@query("sim_index_rebalance", oracle=_rebalance_oracle())
def sim_index_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-ops — INDEX REBALANCE, the action stage sim_index_maintenance
    only signalled (its r6 docstring: "when flags accumulate, the
    retrain is worth paying" — but nothing consumed the flag).  The
    composed lifecycle: assign the delta batch to existing cells
    (maintenance), then SPLIT every cell whose retrain flag fired OR
    whose post-ingest population exceeds the bounded-cell invariant
    ({bound} — the same hard bound the ANN/semantic-dedup builds rely
    on), using the deterministic rank-chunk quantizer
    (operators/similarity.bounded_cells: projection order, chunks of
    ≤ {bound}).  Output is the post-rebalance census per original
    cell: base/delta/total populations, both triggers, subcell count
    and the largest subcell — max_subcell ≤ {bound} for every split
    cell is the contract the downstream Σ|cell|² joins depend on.

    Exactness: triggers are exact-integer cross-multiplications; the
    split rank orders an exact int64 projection with vec_id
    tie-breaks; every output is an integer or boolean.

    100 TB: the delta assignment is one map-side pass against the
    broadcast centroid relation (never the base corpus); the split
    ranks only members of splitting cells (one within-cell sort, the
    hilbert_layout cost class); the census is a cell-grain rollup —
    |cells| rows out."""
    base, assigned, report = llm._idxm_report(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    flags = report.select(
        "cell",
        "n_base",
        "n_delta",
        "retrain_flag",
        (
            F.col("retrain_flag")
            | (
                F.col("n_base") + F.col("n_delta")
                > F.lit(sim.BOUNDED_CELL_SIZE)
            )
        ).alias("split"),
    )
    flags = flags.localCheckpoint(eager=False)  # ranked join + report
    members = base.select(
        F.col("label").alias("cell"), "vec_id", "embedding"
    ).unionByName(
        assigned.select("cell", "vec_id").join(
            emb.select("vec_id", "embedding"), "vec_id"
        ).select("cell", "vec_id", "embedding")
    )
    ranked = sim.bounded_cells(
        members.join(F.broadcast(flags.select("cell", "split")), "cell"),
        label_col="cell",
    )
    sub = ranked.select(
        "cell",
        F.when(F.col("split"), F.col("chunk"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("subcell"),
    )
    sizes = sub.groupBy("cell", "subcell").agg(
        F.count("*").cast("long").alias("n")
    )
    roll = sizes.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_subcells"),
        F.max("n").cast("long").alias("max_subcell"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return (
        flags.join(roll, "cell")
        .select(
            "cell",
            "n_base",
            "n_delta",
            "n_total",
            "retrain_flag",
            "split",
            "n_subcells",
            "max_subcell",
        )
        .orderBy("cell")
    )


sim_index_rebalance.__doc__ = sim_index_rebalance.__doc__.format(
    bound=sim.BOUNDED_CELL_SIZE
)


# ---------------------------------------------------------------------------
# retrieval_query_likelihood — Dirichlet-smoothed LM retrieval
# ---------------------------------------------------------------------------

from gcp_de_data_pipeline_cc_spark.functions.rounding import (  # noqa: E402
    roundn,
    sql_roundn,
)

#: Dirichlet smoothing mass and output depth
_QL_MU = 200
_QL_TOP = 20
#: query = the corpus's top-4 tokens by frequency (the rrf_fusion
#: device: deterministic, exists at every SF)
_QL_TERMS = 4


def _ql_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    cf AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY 1),
    ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM tok),
    qterms AS (
        SELECT token, cf FROM cf ORDER BY cf DESC, token LIMIT {_QL_TERMS}),
    scored AS (
        SELECT dl.doc_id,
               CAST(SUM(CAST(FLOOR(
                   ln((COALESCE(tf.tf, 0)
                       + {_QL_MU}.0e0 * q.cf / ctot.n_corpus)
                      / (dl.dl + {_QL_MU}.0e0))
                   * 1000000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sq
        FROM dl CROSS JOIN qterms q CROSS JOIN ctot
        LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = q.token
        GROUP BY dl.doc_id)
    SELECT doc_id,
           {sql_roundn("sq / 1000000000.0e0 / 1.0e0", 4)} AS ql_score,
           CAST(ROW_NUMBER() OVER (ORDER BY sq DESC, doc_id) AS INT)
               AS rank
    FROM scored
    ORDER BY sq DESC, doc_id
    LIMIT {_QL_TOP}
    """


@query("retrieval_query_likelihood", oracle=_ql_oracle())
def retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval — QUERY-LIKELIHOOD ranking with DIRICHLET smoothing
    (Zhai & Lafferty 2001), the language-modeling retrieval family
    that completes the lexical tier (tf-idf = vector space, BM25 =
    probabilistic relevance, THIS = generative LM): score(q,d) =
    Σ_t∈q ln[(tf(t,d) + μ·p(t|C)) / (|d| + μ)], μ={mu} — smoothing
    mass borrowed from the corpus model, so long documents aren't
    penalized for unseen terms the way add-1 does.  Query = the
    corpus's top-{k} tokens (the rrf_fusion device); output = top-{n}
    documents.

    Exactness: each (doc, term) log-term quantizes ONCE to integer
    nano-units (ln of exact smoothed rationals, identical expression
    both engines), so the per-doc score is an exact int64 sum — no
    summation-order hazard; ranking ties break on doc_id.

    100 TB: tf/dl/cf are one token-explode aggregate each (map-side
    combined); the query relation is {k} broadcast rows, so scoring is
    one map-side pass over the dl relation; top-{n} is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    cf = tok.groupBy("token").agg(F.count("*").cast("long").alias("cf"))
    ctot = tok.agg(F.count("*").cast("long").alias("n_corpus"))
    qterms = cf.orderBy(F.desc("cf"), F.asc("token")).limit(_QL_TERMS)
    pairs = (
        dl.crossJoin(F.broadcast(qterms))
        .crossJoin(F.broadcast(ctot))
        .join(
            tf.withColumnRenamed("tf", "tf_v"),
            ["doc_id", "token"],
            "left",
        )
    )
    term = F.floor(
        F.log(
            (
                F.coalesce(F.col("tf_v"), F.lit(0))
                + F.lit(float(_QL_MU)) * F.col("cf") / F.col("n_corpus")
            )
            / (F.col("dl") + F.lit(float(_QL_MU)))
        )
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = pairs.groupBy("doc_id").agg(
        F.sum(term).cast("long").alias("sq")
    )
    wr = Window.orderBy(F.desc("sq"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _QL_TOP)
        .select(
            "doc_id",
            roundn(
                F.col("sq") / F.lit(1000000000.0) / F.lit(1.0), 4
            ).alias("ql_score"),
            "rank",
        )
        .orderBy("rank")
    )


retrieval_query_likelihood.__doc__ = retrieval_query_likelihood.__doc__.format(
    mu=_QL_MU, k=_QL_TERMS, n=_QL_TOP
)


# ---------------------------------------------------------------------------
# eval_chrf — character n-gram F-score
# ---------------------------------------------------------------------------

#: chrF beta (recall weighted 2x, the sacrebleu default)
_CHRF_BETA2 = 4.0

#: candidate = reference with every 5th token replaced by 'qz' (the
#: eval_bleu noisy channel, reused verbatim so the two metrics are
#: directly comparable on the same pairs)
_CHRF_CAND_SQL = (
    "array_to_string(list_transform(range(1, len(t) + 1), "
    "i -> CASE WHEN i % 5 = 0 THEN 'qz' ELSE t[i] END), ' ')"
)


def _chrf_ngrams_sql(src: str, n: int) -> str:
    return (
        f"SELECT doc_id, SUBSTR({src}, CAST(i AS INT), {n}) AS g "
        f"FROM pairs, UNNEST(range(1, len({src}) - {n} + 2)) AS t(i) "
        f"WHERE len({src}) >= {n}"
    )


def _chrf_oracle() -> str:
    parts = []
    for n in (2, 3):
        parts.append(f"""
    ref{n} AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS rn
        FROM ({_chrf_ngrams_sql("ref", n)}) GROUP BY 1, 2),
    cand{n} AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cn
        FROM ({_chrf_ngrams_sql("cand", n)}) GROUP BY 1, 2),
    m{n} AS (
        SELECT CAST(SUM(LEAST(c.cn, COALESCE(r.rn, 0))) AS BIGINT) AS hits,
               CAST(SUM(c.cn) AS BIGINT) AS c_tot
        FROM cand{n} c LEFT JOIN ref{n} r
          ON c.doc_id = r.doc_id AND c.g = r.g),
    rt{n} AS (
        SELECT CAST(SUM(rn) AS BIGINT) AS r_tot FROM ref{n})""")
    f_of = {
        n: (
            f"((1.0e0 + {_CHRF_BETA2}) * (m{n}.hits * 1.0e0 / m{n}.c_tot)"
            f" * (m{n}.hits * 1.0e0 / rt{n}.r_tot)"
            f" / ({_CHRF_BETA2} * (m{n}.hits * 1.0e0 / m{n}.c_tot)"
            f"    + (m{n}.hits * 1.0e0 / rt{n}.r_tot)))"
        )
        for n in (2, 3)
    }
    return f"""
    WITH pairs AS (
        SELECT doc_id, text AS ref, {_CHRF_CAND_SQL} AS cand
        FROM (SELECT doc_id, text, string_split(text, ' ') AS t
              FROM documents)
        WHERE len(t) >= 2),
    {",".join(parts)}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_docs,
           m2.hits AS hits2, m2.c_tot AS cand2_total,
           rt2.r_tot AS ref2_total,
           m3.hits AS hits3, m3.c_tot AS cand3_total,
           rt3.r_tot AS ref3_total,
           {sql_roundn(f_of[2], 6)} AS f2gram,
           {sql_roundn(f_of[3], 6)} AS f3gram,
           {sql_roundn(f"(({f_of[2]}) + ({f_of[3]})) / 2.0e0", 6)} AS chrf
    FROM m2 CROSS JOIN rt2 CROSS JOIN m3 CROSS JOIN rt3
    """


@query("eval_chrf", oracle=_chrf_oracle())
def eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval tier — chrF (Popović 2015): CHARACTER n-gram F-score with
    β=2 (recall doubled — the sacrebleu default), the MT/generation
    metric that survives tokenizer mismatch and morphology where
    word-level BLEU breaks.  Same corpus-level evidence contract and
    the same noisy-channel candidate as eval_bleu (every 5th token →
    OOV), so BLEU-2 and chrF are directly comparable on identical
    pairs: clipped character-2/3-gram matches, precision from the
    candidate total, recall from the reference total,
    F_β = (1+β²)PR/(β²P+R), chrF = mean over n.

    Exactness: integer clipped-count/total aggregates end-to-end; the
    three F expressions are identical rational arithmetic rounded 6 dp.

    100 TB: two character-explode aggregates (map-side combined,
    shuffle key (doc_id, gram)); the final reduce is corpus-level
    scalar state."""
    docs = load_table(spark, sf_dir, "documents")
    # the four character-gram explode passes each fan ~10⁶ grams per
    # input split out of this relation; spread it across cores first
    # (no-op at production scan split counts)
    pairs = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", "text", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.col("text").alias("ref"),
            F.expr(
                "array_join(transform(sequence(1, size(t)),"
                " i -> CASE WHEN i % 5 = 0 THEN 'qz'"
                " ELSE element_at(t, i) END), ' ')"
            ).alias("cand"),
        )
    )
    pairs = pairs.localCheckpoint(eager=False)  # gram pass + n_docs

    # ONE side/n-tagged gram explode + ONE (doc, n, gram) aggregate
    # replaces the old 4 explode→groupBy passes and the 2 cand↔ref
    # joins (plan: 10 exchanges → 2).  Per (doc, n, g) cell the
    # clipped-match contribution is least(cn, rn) — a gram absent on
    # either side contributes least(x, 0) = 0, exactly the old LEFT
    # join's coalesce semantics — so the corpus totals per n are one
    # conditional rollup of the same integers.
    def side_grams(col: str, tag: str) -> str:
        return (
            f"CASE WHEN length({col}) >= n THEN"
            f" transform(sequence(1, length({col}) - n + 1),"
            f" i -> struct(n AS n, '{tag}' AS side,"
            f" substring({col}, i, n) AS g))"
            f" ELSE array() END"
        )

    cells = pairs.select(
        "doc_id",
        F.explode(
            F.expr(
                "flatten(transform(array(2, 3), n -> concat("
                + side_grams("ref", "r")
                + ", "
                + side_grams("cand", "c")
                + ")))"
            )
        ).alias("x"),
    ).select("doc_id", "x.n", "x.side", "x.g")
    percell = cells.groupBy("doc_id", "n", "g").agg(
        F.sum(F.when(F.col("side") == "c", 1).otherwise(0)).alias("cn"),
        F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).alias("rn"),
    )
    tot = percell.groupBy("n").agg(
        F.sum(F.least("cn", "rn")).cast("long").alias("hits"),
        F.sum("cn").cast("long").alias("cand_total"),
        F.sum("rn").cast("long").alias("ref_total"),
    )
    wide = tot.agg(
        *[
            F.sum(F.when(F.col("n") == n, F.col(c)))
            .cast("long")
            .alias(f"{pre}{n}{suf}")
            for n in (2, 3)
            for c, pre, suf in (
                ("hits", "hits", ""),
                ("cand_total", "cand", "_total"),
                ("ref_total", "ref", "_total"),
            )
        ]
    )
    nd = pairs.agg(F.count("*").cast("long").alias("n_docs"))
    out = wide.crossJoin(F.broadcast(nd))

    def f_of(n: int):
        p = F.col(f"hits{n}") * F.lit(1.0) / F.col(f"cand{n}_total")
        r = F.col(f"hits{n}") * F.lit(1.0) / F.col(f"ref{n}_total")
        return (
            (F.lit(1.0) + F.lit(_CHRF_BETA2))
            * p
            * r
            / (F.lit(_CHRF_BETA2) * p + r)
        )

    return out.select(
        "n_docs",
        "hits2",
        "cand2_total",
        "ref2_total",
        "hits3",
        "cand3_total",
        "ref3_total",
        roundn(f_of(2), 6).alias("f2gram"),
        roundn(f_of(3), 6).alias("f3gram"),
        roundn((f_of(2) + f_of(3)) / F.lit(2.0), 6).alias("chrf"),
    )
