"""Hybrid retrieval and embedding-corpus QC (round-6 wave).

Three operators a RAG/training-data platform runs on top of the
similarity tier (plans/llm.py):

* ``retrieval_rrf_fusion`` — reciprocal-rank fusion of a lexical (BM25)
  arm and a semantic (cosine) arm: the standard hybrid-retrieval
  combiner (Cormack et al. 2009), and the shape every production RAG
  stack ships because neither arm dominates on all query types.
* ``dedup_semdedup`` — SemDeDup-style semantic dedup (Abbas et al.
  2023): cluster the embedding space, prune near-duplicate pairs
  WITHIN each cluster only — the trick that makes embedding dedup
  sub-quadratic at corpus scale.
* ``embedding_ood_mahalanobis`` — parametric out-of-distribution
  scoring (diagonal Mahalanobis distance): the density-free complement
  to embedding_knn_outliers for catching mis-embedded / garbage
  vectors before they poison dedup and retrieval.

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) has no retrieval engine; these
derive from the driver's LLM-pipeline mandate on public PySpark/SQL
patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# retrieval_rrf_fusion — hybrid BM25 + cosine retrieval, RRF combiner
# ---------------------------------------------------------------------------

#: RRF smoothing constant (the value from the original paper; large k
#: flattens rank differences, small k over-trusts rank 1)
_RRF_K = 60
#: per-arm candidate depth and fused output size
_ARM_N = 50
_FUSE_N = 20


def _rrf_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(dl * 1.0e0) AS avg_dl FROM dl),
    dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    qterms AS (
        SELECT token FROM (
            SELECT token, SUM(tf) AS n FROM tf GROUP BY 1
            ORDER BY n DESC, token LIMIT 3)),
    bm25 AS (
        SELECT tf.doc_id,
               {sql_roundn(
                   "SUM(ln((n_docs - df + 0.5e0) / (df + 0.5e0) + 1.0e0)"
                   "    * (tf.tf * 2.2e0)"
                   "    / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / avg_dl)))",
                   4)} AS score
        FROM tf
        JOIN qterms USING (token)
        JOIN dfreq USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id),
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                    AS INT) AS lex_rank
        FROM bm25
        ORDER BY score DESC, doc_id LIMIT {_ARM_N}),
    qs AS ({sim.sql_query_sample_cte(q=1)}),
    qv AS (
        SELECT embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM qs)),
    cosr AS (
        SELECT e.vec_id AS doc_id,
               FLOOR(list_dot_product(e.embedding::DOUBLE[], qv.v)
                     / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                             e.embedding::DOUBLE[]))
                     / sqrt(list_dot_product(qv.v, qv.v))
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS cosine
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id NOT IN (SELECT vec_id FROM qs)),
    sem AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                    AS INT) AS sem_rank
        FROM cosr
        ORDER BY cosine DESC, doc_id LIMIT {_ARM_N}),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               COALESCE(1.0e0 / ({_RRF_K} + l.lex_rank), 0.0e0)
                   + COALESCE(1.0e0 / ({_RRF_K} + s.sem_rank), 0.0e0)
                   AS rrf
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
    SELECT doc_id, lex_rank, sem_rank,
           {sql_roundn("rrf", 6)} AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_FUSE_N}
    """


@query("retrieval_rrf_fusion", oracle=_rrf_oracle())
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — RECIPROCAL RANK FUSION (RRF, k={k}) of a
    lexical arm (BM25 over the corpus's top-3-token standing query,
    text_bm25's scorer) and a semantic arm (cosine to the fixed
    hash-rank sample query vector, the similarity tier's query
    discipline): score(d) = Σ_arms 1/(k + rank_arm(d)), missing arms
    contribute 0. Rank fusion needs NO score calibration between arms
    — exactly why it's the production hybrid default over weighted
    score sums. Both arms rank on 4-dp-rounded scores with doc_id
    tie-breaks, so the integer ranks (and therefore the fused scores)
    are bit-identical cross-engine.

    100 TB: the lexical arm touches only the postings of 3 query terms
    (broadcast qterms/dfreq/stats — text_bm25's bound); the semantic
    arm is one broadcast-query scan scored in codegen; each arm cuts to
    {n} rows via TakeOrderedAndProject (per-partition heap, no global
    sort), so the fusion join is a {n}×{n}-row driver-sized full outer
    join. Nothing in the fusion step scales with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).localCheckpoint(eager=False)
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    ).localCheckpoint(eager=False)
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    qterms = (
        tf.groupBy("token")
        .agg(F.sum("tf").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(3)
        .select("token")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    sat = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avg_dl"))
    )
    bm25 = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfreq.join(qterms, "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(roundn(F.sum(idf * sat), 4).alias("score"))
    )
    lex = (
        bm25.orderBy(F.desc("score"), "doc_id")
        .limit(_ARM_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), "doc_id"))
            .cast("int")
            .alias("lex_rank"),
        )
    )

    emb = sim.as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    qids = sim.query_sample_ids(emb, q=1)
    qv = emb.join(F.broadcast(qids), "vec_id").select(
        F.col("embedding").alias("qvec")
    )
    cos = (
        sim._dot(F.col("embedding"), F.col("qvec"))
        / sim._norm(F.col("embedding"))
        / sim._norm(F.col("qvec"))
    )
    sem = (
        emb.join(F.broadcast(qids), "vec_id", "left_anti")
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            roundn(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_ARM_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), "doc_id"))
            .cast("int")
            .alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(_FUSE_N)
        .select(
            "doc_id", "lex_rank", "sem_rank",
            roundn(F.col("rrf"), 6).alias("rrf_score"),
        )
    )


retrieval_rrf_fusion.__doc__ = retrieval_rrf_fusion.__doc__.format(
    k=_RRF_K, n=_ARM_N
)


# ---------------------------------------------------------------------------
# dedup_semdedup — cluster-scoped semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------

#: cosine prune threshold. The synthetic corpus has no true semantic
#: dups (max in-label cosine ≈ 0.47 at sf0.01), so the production
#: threshold (≥0.95) would prune nothing and leave the driver zero
#: evidence; 0.35 (≈ the in-label p99) exercises the full plan with a
#: deterministic nonzero prune set. Planted-duplicate recall at the
#: production threshold is asserted separately in tests.
_SD_TAU = 0.35


def _semdedup_oracle() -> str:
    # vectors pre-normalized once, so pair scoring is a single dot fold
    # (the sim_topk_graph treatment: 3x on the pair stage)
    cos = "list_dot_product(a.v, b.v)"
    return f"""
    WITH cells AS (
        SELECT vec_id, {sim.sql_bounded_cells_chunk()} AS chunk FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY
                       {sim.sql_bounded_cells_order("embedding", "vec_id")})
                       AS rn
            FROM embeddings)),
    e AS (
        SELECT em.vec_id, em.label, cells.chunk,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[])))
                   AS v
        FROM embeddings em JOIN cells ON cells.vec_id = em.vec_id),
    pairs AS (
        SELECT a.label, a.vec_id AS keep_id, b.vec_id AS prune_id
        FROM e a JOIN e b
          ON a.label = b.label AND a.chunk = b.chunk
         AND a.vec_id < b.vec_id
        WHERE FLOOR({cos} * 10000.0e0 + 0.5e0) / 10000.0e0 >= {_SD_TAU}),
    pruned AS (
        SELECT label, prune_id FROM pairs GROUP BY 1, 2),
    pc AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pruned
        FROM pruned GROUP BY 1),
    base AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM e GROUP BY 1)
    SELECT base.label, base.n_vecs,
           CAST(COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_pruned,
           CAST(base.n_vecs - COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_kept,
           {sql_roundn(
               "(base.n_vecs - COALESCE(pc.n_pruned, 0)) * 1.0e0"
               " / base.n_vecs", 4)} AS retention
    FROM base LEFT JOIN pc USING (label)
    ORDER BY base.label
    """


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP (Abbas et al. 2023) — semantic dedup made sub-quadratic
    by CLUSTER SCOPING: embed, cluster (cells here are the label
    column — the trained k-means quantizer of sim_topk_ivf plugs into
    the same plan), and compare cosine ONLY within each cell; a vector
    is pruned when a lower-id cell-mate sits within cosine ≥ {tau}
    (keep-lowest-id is the deterministic representative rule). Cross-
    cell near-dups are out of scope by construction — the accepted
    recall trade that makes the method linear-ish, vs dedup_embedding's
    LSH-bucket prefilter which chases them probabilistically.

    Driver-visible output is the per-label dedup report (n_vecs,
    n_pruned, n_kept, retention) — the artifact a curation run records;
    the pruned-id set itself is the intermediate ``pruned`` relation.

    100 TB: cells are (label, chunk) from the BOUNDED-CELL quantizer
    (operators/similarity.bounded_cells — |cell| ≤ {bound} is a hard
    invariant, cell COUNT grows with the corpus), so candidate work is
    Σ|cell|² ≤ n·{bound} BY CONSTRUCTION — never corpus², even when
    every vector lands in one label. Chunk-boundary near-dups are the
    accepted recall trade (same class as SemDeDup's own cross-cluster
    misses); pair scoring is codegen aggregate(zip_with); the report
    aggregates label-grain. The prune relation shuffles only
    (label, vec_id) pairs of true candidates."""
    emb = sim.as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    emb = sim.bounded_cells(emb)
    # normalize ONCE so every pair scores with a single dot fold (the
    # sim_topk_graph treatment — 3x on the pair stage at sf0.1)
    v = emb.select(
        "vec_id",
        "label",
        "chunk",
        F.transform(
            "embedding", lambda x: x / sim._norm(F.col("embedding"))
        ).alias("v"),
    )
    v = v.localCheckpoint(eager=False)  # both pair sides + the census
    a, b = v.alias("a"), v.alias("b")
    cos = sim._dot(F.col("a.v"), F.col("b.v"))
    pruned = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(roundn(cos, 4) >= _SD_TAU)
        .select(
            F.col("a.label").alias("label"),
            F.col("b.vec_id").alias("prune_id"),
        )
        .distinct()
    )
    pc = pruned.groupBy("label").agg(
        F.count("*").cast("long").alias("n_pruned")
    )
    base = v.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    kept = F.col("n_vecs") - F.coalesce(F.col("n_pruned"), F.lit(0))
    return (
        base.join(F.broadcast(pc), "label", "left")
        .select(
            "label",
            "n_vecs",
            F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias(
                "n_pruned"
            ),
            kept.cast("long").alias("n_kept"),
            roundn(kept * F.lit(1.0) / F.col("n_vecs"), 4).alias(
                "retention"
            ),
        )
        .orderBy("label")
    )


dedup_semdedup.__doc__ = dedup_semdedup.__doc__.format(
    tau=_SD_TAU, bound=sim.BOUNDED_CELL_SIZE
)


# ---------------------------------------------------------------------------
# embedding_ood_mahalanobis — parametric OOD scoring for vector QC
# ---------------------------------------------------------------------------

#: component quantization scale (the similarity tier's portable scale:
#: exact int64 arithmetic, bit-identical cross-engine)
_MH_SCALE = 8192
_MH_TOP = 20


def _mahalanobis_oracle() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_MH_SCALE}.0e0
                                   + 0.5e0) AS BIGINT)) AS qi
        FROM embeddings),
    x AS (
        SELECT vec_id, i, qi[i] AS q
        FROM e, UNNEST(range(1, len(qi) + 1)) AS t(i)),
    st AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS ss
        FROM x GROUP BY 1),
    sc AS (
        SELECT vec_id,
               SUM(CAST(n * q - s AS DOUBLE) * CAST(n * q - s AS DOUBLE)
                   / CAST(GREATEST(n * ss - s * s, 1) AS DOUBLE)) AS score
        FROM x JOIN st USING (i) GROUP BY 1)
    SELECT e.vec_id, e.label, {sql_roundn("sc.score", 4)} AS maha_sq
    FROM sc JOIN e USING (vec_id)
    ORDER BY {sql_roundn("sc.score", 4)} DESC, e.vec_id
    LIMIT {_MH_TOP}
    """


@query("embedding_ood_mahalanobis", oracle=_mahalanobis_oracle())
def embedding_ood_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QC — diagonal MAHALANOBIS out-of-distribution
    score: per-dimension corpus mean/variance, score(v) = Σ_d
    (v_d − μ_d)²/σ_d², top-{top} most anomalous vectors. The parametric
    complement to embedding_knn_outliers (density-based): Mahalanobis
    catches global distribution violations (wrong normalization, wrong
    model checkpoint, truncated floats) in ONE pass with
    dimension-sized state, where kNN needs a candidate join.

    Exactness: components quantize to the similarity tier's portable
    integer scale ({scale}), so per-dim moment sums are exact int64;
    each term is (n·q − S_d)²/(n·SS_d − S_d²) — exact-integer
    numerator/denominator evaluated in double by the identical op
    sequence cross-engine (GREATEST(·,1) guards a zero-variance dim).

    100 TB: the stats pass is a map-side explode + 64-group aggregate
    (dimension-sized state); scoring broadcasts the 64-entry moment
    arrays and folds per row in codegen (zip_with + aggregate — no
    explode, no shuffle); top-{top} is TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    qi = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * _MH_SCALE + F.lit(0.5)
        ).cast("long"),
    )
    e = emb.select("vec_id", "label", qi.alias("qi")).localCheckpoint(
        eager=False
    )  # the stats pass and the scoring pass both consume it
    x = e.select("vec_id", F.posexplode("qi").alias("pos", "q"))
    st = x.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    stats_row = st.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "n", "s", "ss"))
        ).alias("stx")
    ).select(
        F.transform("stx", lambda r: r["n"]).alias("n_arr"),
        F.transform("stx", lambda r: r["s"]).alias("s_arr"),
        F.transform("stx", lambda r: r["ss"]).alias("ss_arr"),
    )
    scored = e.crossJoin(F.broadcast(stats_row))
    nd = F.element_at("n_arr", 1)
    num = F.zip_with(
        "qi", "s_arr", lambda q, s: (nd * q - s).cast("double")
    )
    den = F.zip_with(
        "ss_arr",
        "s_arr",
        lambda ss, s: F.greatest(nd * ss - s * s, F.lit(1)).cast("double"),
    )
    terms = F.zip_with(num, den, lambda a, b: a * a / b)
    score = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    return (
        scored.select(
            "vec_id", "label", roundn(score, 4).alias("maha_sq")
        )
        .orderBy(F.desc("maha_sq"), "vec_id")
        .limit(_MH_TOP)
    )


embedding_ood_mahalanobis.__doc__ = embedding_ood_mahalanobis.__doc__.format(
    top=_MH_TOP, scale=_MH_SCALE
)


# ---------------------------------------------------------------------------
# sim_topk_binary — sign-bit Hamming search (the cheapest quantization rung)
# ---------------------------------------------------------------------------


def _binary_oracle() -> str:
    cos = sim.SQL_COSINE
    word = (
        "CAST(list_sum(list_transform(range({lo}, {hi}),"
        " i -> CASE WHEN qi[i] >= 0"
        " THEN (CAST(1 AS BIGINT) << (i - {lo})) ELSE 0 END)) AS BIGINT)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 8192.0e0 + 0.5e0)
                             AS BIGINT)) AS qi
        FROM embeddings),
    sig AS (
        SELECT vec_id,
               {word.format(lo=1, hi=33)} AS lo,
               {word.format(lo=33, hi=65)} AS hi
        FROM e),
    qs AS ({{qs}}),
    q AS (
        SELECT e.vec_id AS query_id, e.v AS qv, s.lo AS qlo, s.hi AS qhi
        FROM e JOIN sig s USING (vec_id)
        WHERE e.vec_id IN (SELECT vec_id FROM qs)),
    bin_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       bit_count(xor(q.qlo, s.lo))
                       + bit_count(xor(q.qhi, s.hi)), s.vec_id) AS rank
            FROM q CROSS JOIN sig s
            WHERE s.vec_id <> q.query_id)
        WHERE rank <= 10),
    exact_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                       {cos.format(a="q.qv", b="e.v")} DESC, e.vec_id)
                       AS rank
            FROM q CROSS JOIN e WHERE q.query_id <> e.vec_id)
        WHERE rank <= 10),
    hits AS (
        SELECT x.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top x JOIN bin_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    tot AS (
        SELECT query_id, CAST(COUNT(*) AS INT) AS n_exact
        FROM exact_top GROUP BY 1)
    SELECT t.query_id, CAST(10 AS INT) AS k, t.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS INT) AS n_hit,
           FLOOR(COALESCE(h.n_hit, 0) / t.n_exact * 10000.0e0 + 0.5e0)
               / 10000.0e0 AS recall
    FROM tot t LEFT JOIN hits h USING (query_id)
    ORDER BY t.query_id
    """.format(qs=sim.sql_query_sample_cte())


_BIN_LO = (
    "aggregate(sequence(1, 32), 0L,"
    " (acc, i) -> acc + IF(element_at(qi, i) >= 0,"
    " shiftleft(1L, i - 1), 0L))"
)
_BIN_HI = (
    "aggregate(sequence(33, 64), 0L,"
    " (acc, i) -> acc + IF(element_at(qi, i) >= 0,"
    " shiftleft(1L, i - 33), 0L))"
)


@query("sim_topk_binary", oracle=_binary_oracle())
def sim_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — BINARY SIGN-BIT SEARCH, the cheapest rung of the
    quantization ladder (float32 → int8 → PQ codes → 1 BIT per
    dimension): each vector compresses to a 64-bit signature (bit d =
    sign of the portable-quantized component d), candidates rank by
    HAMMING distance — two XOR+popcount ops per pair against the
    dot-fold's 64 multiply-adds, and a 64x memory cut, which is why
    sign-bit prefilters front petabyte-scale vector stores. The lost
    magnitude information costs recall; this key MEASURES that loss
    with the family's standard evidence contract (per-query recall@10
    vs the session-cached exact baseline), slotting the final rung
    into the documented ladder: exact → LSH → IVF → PQ → IVFPQ →
    BINARY.

    Exactness: signatures are exact int64 bit sums of quantized-sign
    predicates (bit-identical in DuckDB); Hamming is integer; ranking
    ties break on vec_id.

    100 TB: the signature build is one map-side projection (8 bytes
    per vector — the whole index fits where 0.8%% of the float corpus
    would); scoring scans signatures only, never vectors; per-query
    cost is corpus-linear with a 2-instruction inner loop, and the
    top-10 is a WindowGroupLimit heap. Rerank survivors at full
    precision exactly as sim_topk_pq_rerank demonstrates."""
    emb = load_table(spark, sf_dir, "embeddings")
    qi = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * 8192 + F.lit(0.5)
        ).cast("long"),
    )
    sig = emb.select(
        "vec_id", qi.alias("qi")
    ).select(
        "vec_id", F.expr(_BIN_LO).alias("lo"), F.expr(_BIN_HI).alias("hi")
    ).localCheckpoint(eager=False)  # query side + candidate side
    q = sig.join(
        F.broadcast(sim.query_sample_ids(emb)), "vec_id"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = F.bit_count(
        F.col("qlo").bitwiseXOR(F.col("lo"))
    ) + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
    w = Window.partitionBy("query_id").orderBy(
        hamming.asc(), F.col("vec_id").asc()
    )
    approx = (
        sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    from gcp_de_data_pipeline_cc_spark.plans.llm import exact_topk10

    exact = exact_topk10(spark, sf_dir)
    return sim.topk_recall(approx, exact, k=10).orderBy("query_id")
