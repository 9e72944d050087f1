"""Embedding similarity search (op C5 + extension mandate): brute-force
cosine top-k as the exact baseline, engine-exact random-hyperplane LSH
and IVF cell probing as the scale paths.  The search operators read the
embeddings table's columns by name: ``vec_id``, ``embedding`` and
``label`` (the IVF cell).

Scale design (PAPERS.md: distributed top-k similarity search):

- vectors are L2-normalized once, up front, so cosine = dot product;
- the query set is small and **broadcast** — the big candidate side never
  shuffles for the join;
- per-candidate scoring is a narrow `aggregate(zip_with(...))` (JVM
  codegen, no Python);
- top-k per query uses a rank window, which Spark executes as a
  per-partition group-limit below the shuffle (WindowGroupLimit);
- brute force is O(|Q|·n) — right for moderate |Q|, and the exactness
  oracle for the LSH and IVF variants, which cut the candidate set to
  ~n/2^bits (LSH) or ~nprobe·n/|cells| (IVF) per query at tunable
  recall.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


#: Fixed-Q deterministic hash-rank query sample (r5 verdict task #2).
#: The evidence arms (exact brute-force recall baselines, MRR/NDCG brute
#: arm, quantization ranking evals) previously sampled queries with
#: ``vec_id % 50 == 0`` — a CORPUS-PROPORTIONAL sample, so the exact
#: baseline's cost (corpus × sample) grew QUADRATICALLY with data.  The
#: fix is an ABSOLUTE sample: rank every vec_id by a portable integer
#: hash and keep the Q smallest — the sample is exactly Q rows at any
#: corpus size, so the evidence arm is O(corpus · Q) = linear.  The hash
#: ``(vec_id * 1000003) % 7919993`` is exact int64 arithmetic in both
#: Spark and DuckDB (vec_id ≤ ~9.2e12 before overflow), ties broken by
#: vec_id → a total order, bit-identical in both engines.
QUERY_SAMPLE_Q = 64
_QS_MULT = 1000003
_QS_MOD = 7919993


def hash_rank(id_col: str = "vec_id") -> list:
    """The query sample's total order as sort columns: the id hash,
    then the id.  The first Q ids in this order are the sample."""
    h = F.pmod(F.col(id_col).cast("long") * _QS_MULT, F.lit(_QS_MOD))
    return [h.asc(), F.col(id_col).asc()]


def query_sample_ids(
    emb: DataFrame, q: int = QUERY_SAMPLE_Q, id_col: str = "vec_id"
) -> DataFrame:
    """The Q sampled query ids: one-column frame, Q rows regardless of
    corpus size.  Plan: TakeOrderedAndProject (per-partition top-Q then a
    Q-row driver merge) — scale-safe, no full sort."""
    return emb.select(id_col).orderBy(*hash_rank(id_col)).limit(q)


def sample_queries(
    emb: DataFrame, q: int = QUERY_SAMPLE_Q, id_col: str = "vec_id"
) -> DataFrame:
    """Restrict a frame to the fixed-Q query sample via a broadcast
    LEFT SEMI join on the sampled ids (Q ≤ 128 rows broadcast — the big
    side never shuffles)."""
    ids = query_sample_ids(emb, q, id_col)
    return emb.join(F.broadcast(ids), id_col, "semi")


def sql_query_sample_cte(
    q: int = QUERY_SAMPLE_Q, table: str = "embeddings", id_col: str = "vec_id"
) -> str:
    """DuckDB twin of :func:`query_sample_ids` as a CTE body named ``qs``:
    splice ``qs AS ({this})`` into an oracle's WITH list and filter with
    ``{id} IN (SELECT {id} FROM qs)``."""
    return (
        f"SELECT {id_col} FROM {table} "
        f"ORDER BY ({id_col} * {_QS_MULT}) % {_QS_MOD}, {id_col} LIMIT {q}"
    )


def as_double_vectors(df: DataFrame) -> DataFrame:
    """Widen float32 ``embedding`` vectors to double once (exact) so all
    scoring is double-precision."""
    return df.withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored ``(query_id, neighbor_id, cos_raw)``
    pairs: rank by cosine descending, ties broken on neighbor id for
    determinism; the cosine is rounded to 4 places."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            roundn(F.col("cos_raw"), 4).alias("cosine"),
            "rank",
        )
    )


def cosine_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k over ``(vec_id, embedding)`` frames:
    (query_id, neighbor_id, cosine, rank).

    Self-matches are excluded. Ties break on neighbor id for determinism.
    """
    # norms are hoisted to each SIDE of the pair join: the fold value
    # is the identical expression over the identical vector, evaluated
    # once per row instead of once per pair (the division tree below
    # consumes bit-identical operands); the candidate side fans out
    # because the broadcast nested-loop join inherits the scan's
    # (under-)split and otherwise folds every pair on one core
    from gcp_de_data_pipeline_cc_spark.catalog import fan_out

    q = as_double_vectors(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
    ).withColumn("q_nrm", _norm(F.col("q_vec")))
    c = fan_out(
        as_double_vectors(candidates).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        )
    ).withColumn("c_nrm", _norm(F.col("c_vec")))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    cos = (
        _dot(F.col("q_vec"), F.col("c_vec"))
        / F.col("q_nrm")
        / F.col("c_nrm")
    )
    return _rank_topk(
        pairs.select("query_id", "neighbor_id", cos.alias("cos_raw")), k
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact brute-force one: (query_id, k, n_exact, n_hit, recall).

    Both inputs are (query_id, neighbor_id, ..., rank) frames as produced
    by :func:`cosine_topk` / :func:`cosine_topk_lsh_portable` /
    :func:`ivf_topk_portable`.
    The join is a left-semi on (query_id, neighbor_id) — the hit count
    shuffles id pairs only, never vectors — and the output is one scalar
    row per query, so an approximate-search query can ship quantitative
    accuracy evidence as its driver-visible result instead of an
    unverifiable neighbor list.
    """
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("int").alias("k"),
            F.col("n_exact").cast("int").alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            roundn(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


#: the oracle twin of ``topk_recall(approx, exact, 10)`` over an oracle's
#: ``exact_top`` (query_id, neighbor_id) and ``hits`` (query_id, n_hit)
#: CTEs: the CTE ``tot`` and the recall rows
SQL_TOPK_RECALL = """tot AS (
        SELECT query_id, CAST(COUNT(*) AS INT) AS n_exact
        FROM exact_top GROUP BY 1)
    SELECT t.query_id, CAST(10 AS INT) AS k, t.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS INT) AS n_hit,
           FLOOR(COALESCE(h.n_hit, 0) / t.n_exact * 10000.0 + 0.5)
               / 10000.0 AS recall
    FROM tot t LEFT JOIN hits h USING (query_id)
    ORDER BY t.query_id"""


# ---------------------------------------------------------------------------
# portable (engine-exact) integer LSH
# ---------------------------------------------------------------------------

#: 2^13 — float32→double widening, ×2^13, +0.5, floor are ALL exact IEEE
#: steps, so quantization is bit-identical on any engine
PORTABLE_Q_SCALE = 8192

#: integer hyperplane component range: |dot| ≤ dim·8192·(8192·|x|max) stays
#: far below 2^53, so the dot product is exact in BOTH int64 and double
_PORTABLE_PLANE_MAX = 8192


def portable_int_planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic integer hyperplanes (fixed seed), shared verbatim by
    the Spark UDF (int64 matmul) and the DuckDB oracle (literal lists) —
    the float-hyperplane portability problem is that GEMM vs
    sequential-fold summation order flips signs near zero; integer dots
    are order-free and exact on both engines (the dedup_minhash
    portable-hash discipline applied to vectors)."""
    rng = np.random.RandomState(424242)
    return rng.randint(
        -_PORTABLE_PLANE_MAX, _PORTABLE_PLANE_MAX + 1, size=(n_planes, dim)
    ).astype(np.int64)


def portable_lsh_buckets(
    df: DataFrame, out_id: str, n_tables: int, bits: int, dim: int
) -> DataFrame:
    """One (table_id, bucket) row per ``(vec_id, embedding)`` vector per
    hash table, with ENGINE-EXACT bucket ids: quantize each component to
    floor(x·2^13 + 0.5) (exact), then bit j of table t = sign of the
    int64 dot with plane t·bits+j.  The n_tables·bits plane signs come
    from one Arrow-batched pandas UDF doing a single int64 matmul per
    batch, so the plan stays tiny and no Python runs per row.  Vectors
    narrower than ``dim`` use the leading plane columns (planes are
    seeded per (n_tables·bits, dim), truncation keeps determinism)."""
    from pyspark.sql.types import ArrayType, LongType

    planes = portable_int_planes(n_tables * bits, dim)  # (T·b, dim)
    weights = 2 ** np.arange(bits - 1, -1, -1, dtype=np.int64)  # MSB-first

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.vstack(vecs.to_numpy()).astype(np.float64)  # exact widen
        q = np.floor(v * PORTABLE_Q_SCALE + 0.5).astype(np.int64)
        p = planes[:, : q.shape[1]]
        signs = (q @ p.T) > 0  # exact int64 matmul
        grouped = signs.reshape(len(q), -1, len(weights))  # (n, T, b)
        return pd.Series(list(grouped @ weights))

    # r10 (guide §4.4): the posexplode over the UDF column collapses
    # into the projection and the plan evaluates the GEMM UDF TWICE per
    # relation (two ArrowEvalPython nodes over the same input — seen in
    # every bucket consumer's plan).  Non-deterministic marking fences
    # the duplication; the function is pure, results unchanged.
    codes_once = _codes.asNondeterministic()
    return df.select(
        F.col("vec_id").alias(out_id),
        codes_once(F.col("embedding")).alias("_codes"),
    ).select(out_id, F.posexplode("_codes").alias("table_id", "bucket"))


def sql_portable_lsh_buckets(
    vec_expr: str, n_tables: int, bits: int, dim: int
) -> list[str]:
    """DuckDB expressions (one per table) reproducing
    :func:`portable_lsh_buckets` bit-for-bit: the quantized components
    and integer plane literals keep every dot product below 2^53, so
    ``list_dot_product``'s double arithmetic is exact."""
    planes = portable_int_planes(n_tables * bits, dim)
    q = (
        f"list_transform({vec_expr}, "
        f"x -> FLOOR(CAST(x AS DOUBLE) * {PORTABLE_Q_SCALE}.0 + 0.5))"
    )
    exprs = []
    for t in range(n_tables):
        terms = []
        for j in range(bits):
            plane = planes[t * bits + j]
            lits = "[" + ", ".join(f"{int(x)}.0" for x in plane) + "]"
            w = 2 ** (bits - 1 - j)  # MSB-first, matching the UDF
            terms.append(
                f"CASE WHEN list_dot_product(__q, {lits}) > 0 "
                f"THEN {w} ELSE 0 END"
            )
        exprs.append(
            "(SELECT " + " + ".join(terms) + f" FROM (SELECT {q} AS __q))"
        )
    return exprs


def quantized_int_vectors(df: DataFrame) -> DataFrame:
    """Adds ``qvec``: the exact integer quantization floor(x·2^13 + 0.5)
    of each ``embedding`` component — the portable-LSH quantizer exposed
    for centroid building (every step exact IEEE, bit-identical on any
    engine)."""
    return df.withColumn(
        "qvec",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(PORTABLE_Q_SCALE)) + F.lit(0.5)
            ),
        ),
    )


def cosine_topk_lsh_portable(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k with multi-table random-hyperplane LSH and
    ENGINE-EXACT bucketing (:func:`portable_lsh_buckets`).

    A candidate is scored iff it shares a bucket with the query in ANY of
    the ``n_tables`` tables (recall 1-(1-p^bits)^n_tables for per-bit
    collision p = 1-θ/π) — the standard recall/cost dial. Per query,
    expected candidates ≈ n_tables · n / 2^bits ≪ n.  The candidate set
    — and therefore the whole result — is deterministic and
    SQL-reproducible, so the approximate search is ORACLE-PAIRED instead
    of rows-only.  Same output schema as :func:`cosine_topk`; recall is
    measured against it (:func:`topk_recall`)."""
    qb = portable_lsh_buckets(queries, "query_id", n_tables, bits, dim)
    cb = portable_lsh_buckets(candidates, "neighbor_id", n_tables, bits, dim)
    pairs = (
        cb.join(F.broadcast(qb), ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # per-side norm hoist (the cosine_topk discipline): the fold value
    # is the identical expression over the identical vector, evaluated
    # once per row instead of once per collided pair — the division
    # consumes bit-identical operands
    q = as_double_vectors(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_nrm", _norm(F.col("q_vec")))
    c = as_double_vectors(candidates).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    ).withColumn("c_nrm", _norm(F.col("c_vec")))
    cos = (
        _dot(F.col("q_vec"), F.col("c_vec")) / F.col("q_nrm") / F.col("c_nrm")
    )
    scored = (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    return _rank_topk(scored, k)


#: the DuckDB twin of :func:`quantized_int_vectors` beside the double
#: vectors: the CTE ``e`` (vec_id, label, v, qi)
SQL_QUANTIZED_VECTORS = """e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               list_transform(embedding,
                   x -> FLOOR(CAST(x AS DOUBLE) * 8192.0 + 0.5)) AS qi
        FROM embeddings)"""

#: the cosine of two DuckDB double lists ``{a}`` and ``{b}`` (a
#: ``str.format`` template)
SQL_COSINE = (
    "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}))"
    " / sqrt(list_dot_product({b}, {b}))"
)


def sql_ivf_centroids(src: str = "e") -> str:
    """The DuckDB twin of :func:`ivf_centroids_portable` over the ``qi``
    vectors of ``src``: the CTEs ``pp`` and ``cents`` (label, cvec)."""
    return f"""pp AS (
        SELECT label, i AS pos, SUM(qi[i]) AS s
        FROM {src}, UNNEST(range(1, len(qi) + 1)) AS t(i)
        GROUP BY 1, 2),
    cents AS (SELECT label, list(s ORDER BY pos) AS cvec FROM pp GROUP BY 1)"""


def ivf_centroids_portable(vectors: DataFrame) -> DataFrame:
    """IVF coarse quantizer with ENGINE-EXACT centroids, one per ``label``
    cell: the per-cell per-position SUM of integer-quantized components
    (int64 — exact and summation-order-free, unlike a float mean).
    Cosine is scale-invariant, so the un-normalized sum vector ranks
    cells identically to the mean — no division, no float accumulation.
    Cells come from the pre-assigned ``label`` column (a trained k-means
    would produce the same shape); the centroid table is
    dimension-sized."""
    per_pos = (
        quantized_int_vectors(vectors)
        .select("label", F.posexplode("qvec").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"))
    )
    return per_pos.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st.getField("s").cast("double"),
        ).alias("centroid")
    )


def _probe_cells(
    queries: DataFrame, candidates: DataFrame, nprobe: int, cols: tuple[str, ...]
) -> DataFrame:
    """``cols`` of each query's ``nprobe`` nearest cells by cosine against
    the engine-exact centroids (ties on the cell label)."""
    cents = ivf_centroids_portable(candidates)
    q = as_double_vectors(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    qc = q.crossJoin(F.broadcast(cents))
    cent_cos = (
        _dot(F.col("q_vec"), F.col("centroid"))
        / _norm(F.col("q_vec"))
        / _norm(F.col("centroid"))
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("label")
    )
    return (
        qc.select(*cols, cent_cos.alias("cell_cos"))
        .withColumn("cell_rank", F.row_number().over(w_cell))
        .filter(F.col("cell_rank") <= nprobe)
        .select(*cols)
    )


def ivf_probe_portable(
    queries: DataFrame, candidates: DataFrame, nprobe: int = 3
) -> DataFrame:
    """(query_id, label): each query's ``nprobe`` nearest coarse cells by
    cosine against the engine-exact integer-sum centroids — the probe
    stage alone, for composed indexes (IVF+PQ) that score the probed
    cells with a different fine quantizer."""
    return _probe_cells(queries, candidates, nprobe, ("query_id", "label"))


def ivf_topk_portable(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF approximate top-k: route each query to its ``nprobe`` nearest
    cells (:func:`ivf_probe_portable`'s probe), score only those cells'
    vectors.

    Cost per query drops from n to ~nprobe·n/|cells|; the centroid table
    and the query set broadcast, so the candidate scan is the only big
    side and it is filtered by cell membership *before* scoring.  The
    engine-exact centroids make probing deterministic and
    SQL-reproducible, so the IVF search is oracle-paired."""
    probed = _probe_cells(
        queries, candidates, nprobe, ("query_id", "q_vec", "label")
    )
    c = as_double_vectors(candidates).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "label",
    )
    pairs = c.join(F.broadcast(probed), on="label").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = (
        _dot(F.col("q_vec"), F.col("c_vec"))
        / _norm(F.col("q_vec"))
        / _norm(F.col("c_vec"))
    )
    return _rank_topk(
        pairs.select("query_id", "neighbor_id", cos.alias("cos_raw")), k
    )


# ---------------------------------------------------------------------------
# bounded-cell coarse quantizer (r7 verdict task #1)
# ---------------------------------------------------------------------------

#: hard per-cell size bound for the rank-chunked coarse quantizer: any
#: label cell above this splits into contiguous projection-order chunks
#: of at most this many vectors, so candidate joins scoped to
#: (label, chunk) cost Sigma|cell|^2 <= n * bound BY CONSTRUCTION —
#: never corpus^2, no matter how skewed the labels get
BOUNDED_CELL_SIZE = 32

#: the projection's width: the embeddings table's vector length
_BOUNDED_CELL_DIM = 64


def _bounded_cell_plane() -> np.ndarray:
    """The single deterministic integer projection plane shared verbatim
    by the Spark expression and the DuckDB twin (portable_int_planes
    seed; plane 0 of a 1-plane family)."""
    return portable_int_planes(1, _BOUNDED_CELL_DIM)[0]


def bounded_cells(
    df: DataFrame,
    label_col: str = "label",
    keep_proj: str | None = None,
) -> DataFrame:
    """Adds ``chunk``: the BOUNDED-CELL id of each ``(vec_id, embedding)``
    row within its ``label_col`` cell.

    The coarse quantizer behind the ANN/semantic-dedup tier previously
    used the raw label column as the cell, so replicated/skewed corpora
    concentrated all growth into a fixed number of cells and every
    cell-scoped pair join degraded toward corpus². This is the fix the
    production IVF literature applies (re-split oversized cells): rank
    each label's vectors by a deterministic 1-D projection (exact int64
    dot of the 2^13-quantized vector with a fixed integer hyperplane —
    a locality-preserving order, so near-duplicates stay chunk-mates
    except at chunk boundaries) and cut the ranked run into chunks of
    at most ``BOUNDED_CELL_SIZE`` vectors. |cell| ≤ bound is a HARD
    invariant; the cell COUNT grows with the corpus instead.
    ``keep_proj`` names a column that keeps the projection.

    Exactness: the projection is exact integer arithmetic (components
    ≤ 2^13, plane entries ≤ 2^13, dim ≤ 64 → |dot| < 2^33), ties break
    on the id — a total order, bit-identical in DuckDB
    (:func:`sql_bounded_cells_order`).

    100 TB: one rank-within-label sort (the hilbert_layout cost class)
    replaces unbounded quadratic growth in every downstream
    (label, chunk)-scoped join; the projection itself is map-side
    codegen."""
    plane_arr = F.array(*[F.lit(int(x)) for x in _bounded_cell_plane()])
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PORTABLE_Q_SCALE)) + F.lit(0.5)
        ).cast("long"),
    )
    # dot over EXACTLY dim positions: vectors longer than dim are
    # truncated, shorter ones zero-padded (identical to a prefix dot).
    # The earlier zip_with(slice(plane, size(vec)), q) form null-padded
    # the plane when size(vec) > dim and silently yielded a NULL
    # projection — the r7 ADVICE divergence.  F.get is total (NULL out
    # of bounds, no ANSI error), so the fold can never go NULL.
    proj = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(_BOUNDED_CELL_DIM)),
            lambda i: F.get(plane_arr, i - 1)
            * F.coalesce(F.get(q, i - 1), F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy(label_col).orderBy(
        F.asc("__bc_proj"), F.asc("vec_id")
    )
    out = df.withColumn("__bc_proj", proj).withColumn(
        "chunk",
        F.floor(
            (F.row_number().over(w) - F.lit(1)) * F.lit(1.0)
            / F.lit(float(BOUNDED_CELL_SIZE))
        ).cast("long"),
    )
    if keep_proj is not None:
        return out.withColumnRenamed("__bc_proj", keep_proj)
    return out.drop("__bc_proj")


def sql_bounded_cells_proj(vec_expr: str) -> str:
    """The DuckDB twin of :func:`bounded_cells`' integer projection
    (exact: quantized components x integer plane, all < 2^53).  Same
    truncate-to-dim / zero-pad totalization as the Spark side: list
    indexing past the end is NULL in DuckDB, coalesced to 0, so both
    engines agree on any vector length instead of one erroring."""
    lits = "[" + ", ".join(f"{int(x)}.0" for x in _bounded_cell_plane()) + "]"
    qexpr = (
        f"list_transform(range(1, {_BOUNDED_CELL_DIM} + 1), "
        f"i -> COALESCE(FLOOR(CAST({vec_expr}[i] AS DOUBLE) "
        f"* {PORTABLE_Q_SCALE}.0 + 0.5), 0.0))"
    )
    return f"list_dot_product({qexpr}, {lits})"


def sql_bounded_cells_order(vec_expr: str, id_expr: str) -> str:
    """The DuckDB ORDER BY twin of :func:`bounded_cells`' ranking:
    ``ROW_NUMBER() OVER (PARTITION BY label ORDER BY {this})`` with the
    identical integer projection and id tie-break."""
    return f"{sql_bounded_cells_proj(vec_expr)}, {id_expr}"


def sql_bounded_cells_chunk() -> str:
    """The chunk expression over the twin's row number ``rn``."""
    return f"CAST(FLOOR((rn - 1) * 1.0e0 / {BOUNDED_CELL_SIZE}) AS BIGINT)"
