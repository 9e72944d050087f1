"""LLM-data-pipeline queries (SURVEY.md §2.10 C3-C6 + extension
mandate): dedup suite, similarity search, text analysis, multimodal
plumbing — each a registry entry over the documents/embeddings tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import (
    collect_bounded,
    fan_out,
    load_table,
    shared,
)
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators import dedup as dd
from gcp_de_data_pipeline_cc_spark.operators import multimodal as mm
from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
from gcp_de_data_pipeline_cc_spark.operators import text as tx
from gcp_de_data_pipeline_cc_spark.plans.registry import query



# ---------------------------------------------------------------------------
# text analysis (C6)
# ---------------------------------------------------------------------------

@query(
    "text_tokens",
    oracle="""
    WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    SELECT token, COUNT(*) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT 100
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/C6 — corpus token frequencies (explode → count → top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(t) AS INT) AS n_tokens,
           FLOOR((len(list_distinct(t)) / len(t)) * 10000.0 + 0.5) / 10000.0 AS distinct_ratio,
           FLOOR((len(list_filter(t, x -> x IN ('the', 'a'))) / len(t)) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
           FLOOR((length(replace(text, ' ', '')) / len(t)) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
           FLOOR((0.4 * (len(list_distinct(t)) / len(t))
                + 0.3 * (1.0 - (len(list_filter(t, x -> x IN ('the', 'a'))) / len(t)))
                + 0.3 * LEAST(len(t) / 100.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality_score
    FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — quality-scoring signals (type-token ratio, stopword ratio,
    avg token length, composite score); the cheap narrow pre-filter stage
    of a training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_columns(docs)
    return q.select(
        "doc_id",
        "n_tokens",
        roundn(F.col("distinct_ratio"), 4).alias("distinct_ratio"),
        roundn(F.col("stopword_ratio"), 4).alias("stopword_ratio"),
        roundn(F.col("avg_token_len"), 4).alias("avg_token_len"),
        roundn(F.col("quality_score"), 4).alias("quality_score"),
    )


@query(
    "text_langid",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents
    ),
    profile AS (
        SELECT lang, token FROM (
            SELECT lang, token,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY COUNT(*) DESC, token
                   ) AS rnk
            FROM tok GROUP BY lang, token
        ) WHERE rnk <= 10
    ),
    scored AS (
        SELECT t.doc_id, p.lang AS cand_lang, COUNT(*) AS hits
        FROM tok t JOIN profile p ON t.token = p.token
        GROUP BY t.doc_id, p.lang
    ),
    best AS (
        SELECT doc_id, cand_lang AS predicted_lang,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY hits DESC, cand_lang
               ) AS rnk
        FROM scored
    )
    SELECT d.doc_id, b.predicted_lang,
           b.predicted_lang = d.lang AS is_correct
    FROM best b JOIN documents d USING (doc_id)
    WHERE b.rnk = 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — n-gram(1) language ID: build top-10 token profiles per
    language from the labeled corpus, classify each document by profile
    hit count. The profile is dimension-sized → broadcast onto the token
    stream; one shuffle for the per-doc score."""
    docs = load_table(spark, sf_dir, "documents")
    # tok feeds the profile build AND the scoring join — checkpoint so
    # the tokenize pass runs once (plan-census lesson)
    tok = docs.select(
        "doc_id", "lang", F.explode(tx.tokens_col(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    w_prof = Window.partitionBy("lang").orderBy(F.col("count").desc(), "token")
    profile = (
        tok.groupBy("lang", "token")
        .count()
        .withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    scored = (
        tok.select("doc_id", "token")
        .join(F.broadcast(profile), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "cand_lang")
    best = (
        scored.withColumn("rnk", F.row_number().over(w_best))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"))
    )
    return best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).alias("is_correct"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_aggregate(list_transform({tx.SHINGLES_SQL}, s -> md5(s)), 'min')
               AS fingerprint
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE len(t) >= 3
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — min-hashed-shingle document fingerprint (winnowing-family);
    narrow array_min over transformed shingles, no shuffle."""
    return tx.min_shingle_fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "text_rolling_fp",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               list_transform(
                   string_split(text, ' '),
                   tok -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(tok, ''),
                                          c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 131 + b) % 2147483647)) AS th
        FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                       (acc, x) -> (acc * 31 + x) % 2147483647)
               AS rolling_fp
    FROM h
    """,
)
def text_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — order-sensitive polynomial rolling hash. Oracle-paired since
    the r3 portable-hash upgrade: the per-char polynomial token hash
    (operators/text.portable_token_hash) is exact integer arithmetic
    both engines fold identically, so the fingerprints match
    bit-for-bit (previously rows-only because xxhash64 is
    Spark-specific; the xxhash64 swap remains the documented
    production fast path)."""
    return tx.rolling_hash_fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup suite (C3/C4)
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, sha256(text) AS h FROM documents)
    GROUP BY h
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/P5 — exact content-hash dedup: one hash-groupBy; shuffle
    carries (hash, id), never text."""
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


#: the exact-Jaccard pairs of both shingle-join modes (the hash mode
#: changes the SHUFFLE representation, not the result)
_NGRAM_JACCARD_ORACLE = f"""
    WITH {dd.shingle_overlap_sql()}
    SELECT doc_a, doc_b,
           n_both / (ca.n_sh + cb.n_sh - n_both) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_both / (ca.n_sh + cb.n_sh - n_both) >= 0.5
    """


@query(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — exact 3-gram Jaccard similarity join via the shingle-join
    plan (cost Σ|bucket|², never the O(n²) cross join). Integer
    arithmetic → engine-portable without rounding."""
    return corpus_dup_pairs(spark, sf_dir)


# session-shared dedup relations (catalog.shared).  Memory bound: the
# threshold-filtered PAIR set is sparse (near-dups, not all-pairs) and
# the cluster assignment is ≤ entity-sized; the shingle relation is
# corpus-sized.  Each ends in localCheckpoint(eager=False), which under
# the session's AQE runs the upstream shuffle stages at call time, in
# the first consumer's plan build.


@shared
def corpus_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard near-dup pairs at the 0.5 production threshold,
    built once per (session, sf_dir) and shared by the pair consumer,
    the cluster build, and everything downstream of clusters."""
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        shingles=corpus_shingles(spark, sf_dir),
    ).localCheckpoint(eager=False)


@shared
def corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) 3-gram relation, built once per
    (session, warehouse): the tokenize + explode + distinct pass every
    shingle consumer (exact-Jaccard pairs, MinHash signature builds,
    LSH calibration, the accuracy eval) otherwise re-runs."""
    return dd._doc_shingles(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", 3
    ).localCheckpoint(eager=False)


@shared
def corpus_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over :func:`corpus_dup_pairs` — the
    iterative label-min loop runs once per session; dedup_clusters,
    the survivorship manifest, and the per-source rate report all
    consume the same (node, cluster_id) relation."""
    pairs = corpus_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return dd.connected_components(pairs, src="doc_a", dst="doc_b")


#: the oracle twin of :func:`corpus_dup_clusters`: the near-dup ``pairs``,
#: their symmetric ``edges`` and the closure ``reach`` (node, m); each
#: node's component id is MIN(m)
_DUP_REACH_SQL = f"""{dd.shingle_overlap_sql()},
    pairs AS ({dd.JACCARD_PAIRS_SQL}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT DISTINCT a AS node, a AS m FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    )"""


@query(
    "dedup_ngram_hashjoin",
    # 64-bit collision odds ~n²/2⁶⁵ — negligible; equality also asserted
    # in tests/test_llm.py
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_ngram_hashjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — the SAME exact 3-gram Jaccard join with the 100 TB shuffle
    profile: shingles collapse to xxhash64 longs before the self-join,
    so the shuffle carries 8-byte keys instead of 3-word strings. Held
    beside dedup_ngram_jaccard in the registry so the bench records the
    shuffle-width saving empirically at every scale factor; verified
    against the identical DuckDB oracle (collision risk documented in
    operators/dedup.py).

    Measured at sf0.1 local[32]: ~10% faster warm (1.57 s vs 1.76 s) —
    modest, because a local in-memory shuffle barely charges for byte
    width; on a networked cluster the 3-4× key-byte reduction is the
    dominant term of this join's cost, which is why hash keys are the
    100 TB default and the string formulation is the oracle/debug path."""
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        join_on_hash=True,
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_DUP_REACH_SQL}
    SELECT node AS doc_id, MIN(m) AS cluster_id
    FROM reach
    GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — near-dup pairs → dedup GROUPS: connected components over the
    exact-Jaccard edge set by distributed min-label propagation
    (operators/dedup.connected_components). cluster_id = min doc_id of
    the component, so "keep the representative" is
    ``filter(doc_id == cluster_id)``. The oracle computes the same
    components with a recursive transitive-closure CTE — same answer by
    a method that cannot scale, which is the point of the Spark one.
    The pair build and the CC loop run once per session
    (corpus_dup_pairs / corpus_dup_clusters caches)."""
    cc = corpus_dup_clusters(spark, sf_dir)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


_MINHASH_CHARFOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(shingle, ''), "
    "c -> CAST(unicode(c) AS BIGINT))), "
    "(a, b) -> (a * 131 + b) % 2147483647)"
)


def _minhash_oracle() -> str:
    """The full MinHash+LSH+verify pipeline in DuckDB SQL, sharing the
    seed-42 affine coefficients with operators/dedup._hash_params —
    possible since the r3 portable-hash upgrade (per-char shingle fold
    + exact signature-tuple buckets; nothing Spark-specific remains)."""
    perms = dd._hash_params(32)
    sig_cols = ",\n               ".join(
        f"MIN(({a} * h + {b}) % 2147483647) AS sig_{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, "
        "CAST(sig_{r0} AS VARCHAR) || '_' || CAST(sig_{r1} AS VARCHAR) "
        "|| '_' || CAST(sig_{r2} AS VARCHAR) || '_' "
        "|| CAST(sig_{r3} AS VARCHAR) AS bucket FROM sig".format(
            b=b, r0=4 * b, r1=4 * b + 1, r2=4 * b + 2, r3=4 * b + 3
        )
        for b in range(8)
    )
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, UNNEST({tx.SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3),
    h AS (
        SELECT doc_id, {_MINHASH_CHARFOLD} AS h FROM sh),
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM h GROUP BY doc_id),
    banded AS (
        {band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_both
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           n_both / (ca.n_sh + cb.n_sh - n_both) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_both / (ca.n_sh + cb.n_sh - n_both) >= 0.5
    """


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — MinHash+LSH near-dup join (32 perms, 8 bands × 4 rows),
    candidates verified with exact Jaccard. Oracle-paired since the r3
    portable-hash upgrade: the shingle hash is the per-char polynomial
    fold and band buckets are exact signature tuples, so DuckDB runs
    the ENTIRE pipeline — banding, candidate join, and verification —
    from the same seed-42 coefficients (xxhash64 signatures/buckets
    remain the documented production fast path). Tests additionally
    assert recall vs dedup_ngram_jaccard."""
    return dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        shingles=corpus_shingles(spark, sf_dir),
    )


_SIMHASH_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(token, ''),
                                  c -> CAST(unicode(c) AS BIGINT))),
                   (a, b) -> (a * 131 + b) % 2147483647) AS h
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
              FROM documents)),
    bitsums AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN (h // 1) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_0,
               CAST(SUM(CASE WHEN (h // 2) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_1,
               CAST(SUM(CASE WHEN (h // 4) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_2,
               CAST(SUM(CASE WHEN (h // 8) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_3,
               CAST(SUM(CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_4,
               CAST(SUM(CASE WHEN (h // 32) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_5,
               CAST(SUM(CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_6,
               CAST(SUM(CASE WHEN (h // 128) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_7,
               CAST(SUM(CASE WHEN (h // 256) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_8,
               CAST(SUM(CASE WHEN (h // 512) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_9,
               CAST(SUM(CASE WHEN (h // 1024) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_10,
               CAST(SUM(CASE WHEN (h // 2048) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_11,
               CAST(SUM(CASE WHEN (h // 4096) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_12,
               CAST(SUM(CASE WHEN (h // 8192) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_13,
               CAST(SUM(CASE WHEN (h // 16384) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_14,
               CAST(SUM(CASE WHEN (h // 32768) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_15
        FROM tok GROUP BY doc_id),
    sig AS (
        SELECT doc_id,
               CAST(CASE WHEN bit_0 > 0 THEN 1 ELSE 0 END
               + CASE WHEN bit_1 > 0 THEN 2 ELSE 0 END
               + CASE WHEN bit_2 > 0 THEN 4 ELSE 0 END
               + CASE WHEN bit_3 > 0 THEN 8 ELSE 0 END
               + CASE WHEN bit_4 > 0 THEN 16 ELSE 0 END
               + CASE WHEN bit_5 > 0 THEN 32 ELSE 0 END
               + CASE WHEN bit_6 > 0 THEN 64 ELSE 0 END
               + CASE WHEN bit_7 > 0 THEN 128 ELSE 0 END
               + CASE WHEN bit_8 > 0 THEN 256 ELSE 0 END
               + CASE WHEN bit_9 > 0 THEN 512 ELSE 0 END
               + CASE WHEN bit_10 > 0 THEN 1024 ELSE 0 END
               + CASE WHEN bit_11 > 0 THEN 2048 ELSE 0 END
               + CASE WHEN bit_12 > 0 THEN 4096 ELSE 0 END
               + CASE WHEN bit_13 > 0 THEN 8192 ELSE 0 END
               + CASE WHEN bit_14 > 0 THEN 16384 ELSE 0 END
               + CASE WHEN bit_15 > 0 THEN 32768 ELSE 0 END AS BIGINT) AS simhash
        FROM bitsums)
    SELECT simhash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           '[' || array_to_string(list_sort(list(doc_id)), ',') || ']'
               AS members
    FROM sig GROUP BY simhash HAVING COUNT(*) > 1
    """


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — SimHash bucketing: documents sharing a 16-bit weighted-bit
    signature (near-dup candidate groups). Oracle-paired since the r3
    portable-hash upgrade: bit weights come from the per-char
    polynomial token hash, so DuckDB reproduces every signature
    bit-for-bit (xxhash64 stays the production fast path).

    Driver-visible output is scalar-only: the ``members`` id array is
    serialized with ``to_json`` here in the wrapper (the driver's row
    canonicalizer cannot sort pandas list cells — r2 ERR); library
    callers use :func:`operators.dedup.simhash_buckets` for the typed
    array."""
    buckets = dd.simhash_buckets(load_table(spark, sf_dir, "documents"))
    return buckets.select(
        "simhash", "n_docs", F.to_json("members").alias("members")
    )


def _dedup_emb_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    b0 = sql_portable_lsh_buckets("embedding", 1, 8, 64)[0]
    return f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec, {b0} AS bucket
        FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               FLOOR(list_dot_product(a.vec, b.vec)
                     / sqrt(list_dot_product(a.vec, a.vec))
                     / sqrt(list_dot_product(b.vec, b.vec))
                     * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM v a JOIN v b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cosine,
           CAST(cosine >= 0.95 AS INT) AS is_near_dup
    FROM pairs
    ORDER BY cosine DESC, vec_a, vec_b
    LIMIT 100
    """


@query("dedup_embedding", oracle=_dedup_emb_oracle())
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — embedding-cosine near-dup: hyperplane bucket prefilter,
    then exact cosine within buckets.  Upgraded from rows-only to
    ORACLE-PAIRED via the portable integer 8-bit code
    (operators/similarity.portable_lsh_buckets — exact int64 dot signs,
    bit-identical in DuckDB).

    The synthetic corpus contains no true near-dups (max in-bucket
    cosine ≈0.51 at sf0.01), so a ≥0.95-threshold-only result would be
    deterministically empty — zero observable evidence for the driver's
    check. The registered output is therefore the top-100 candidate
    pairs by cosine with an ``is_near_dup`` flag at the 0.95 production
    threshold: same plan shape (bucket join never goes all-pairs),
    deterministic nonzero rows, and planted-duplicate recall is
    asserted separately in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = sim.portable_lsh_buckets(
        emb, "vec_id", n_tables=1, bits=8, dim=64
    ).select("vec_id", "bucket")
    v = (
        sim.as_double_vectors(emb)
        .select("vec_id", F.col("embedding").alias("vec"))
        .join(codes, "vec_id")
    )
    a, b = v.alias("a"), v.alias("b")
    cos = (
        sim._dot(F.col("a.vec"), F.col("b.vec"))
        / sim._norm(F.col("a.vec"))
        / sim._norm(F.col("b.vec"))
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            roundn(cos, 4).alias("cosine"),
        )
        .withColumn("is_near_dup", (F.col("cosine") >= 0.95).cast("int"))
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(100)
    )


@query(
    "fn_array",
    oracle="""
    SELECT vec_id,
           CAST(len(v) AS INT) AS dim,
           FLOOR(SQRT(list_dot_product(v, v)) * 10000.0 + 0.5) / 10000.0 AS l2_norm,
           FLOOR(list_aggregate(v, 'sum') * 10000.0 + 0.5) / 10000.0 AS vec_sum,
           list_aggregate(v, 'max') AS vec_max,
           FLOOR(list_dot_product(v, list_transform(v, x -> ABS(x)))
                 * 10000.0 + 0.5) / 10000.0 AS dot_abs
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — array/higher-order function suite over embedding vectors:
    size, aggregate (fold), transform (map), zip_with — all JVM-side, no
    Python, the building blocks of the similarity operators."""
    emb = sim.as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    v = F.col("embedding")
    sq_sum = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    vec_sum = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    dot_abs = F.aggregate(
        F.zip_with(v, F.transform(v, F.abs), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        roundn(F.sqrt(sq_sum), 4).alias("l2_norm"),
        roundn(vec_sum, 4).alias("vec_sum"),
        F.array_max(v).alias("vec_max"),
        roundn(dot_abs, 4).alias("dot_abs"),
    )


# ---------------------------------------------------------------------------
# similarity search (C5)
# ---------------------------------------------------------------------------

@query(
    "sim_topk",
    oracle=f"""
    WITH qs AS ({sim.sql_query_sample_cte()}),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qs)
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qv, cv)
                   / sqrt(list_dot_product(qv, qv))
                   / sqrt(list_dot_product(cv, cv)) AS cos_raw
        FROM q CROSS JOIN c
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id,
           FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — exact brute-force cosine top-10 for the FIXED-Q hash-rank
    query sample (sim.sample_queries, Q=64 at any corpus size — the
    evidence arm is O(corpus·Q), linear, not the quadratic
    corpus-proportional %50 sample it replaced): broadcast queries over
    the candidate scan, scoring via zip_with/aggregate (JVM codegen),
    rank-window top-k.  Built once per session (exact_topk10 cache) —
    it is ALSO the recall baseline for sim_topk_lsh / sim_topk_ivf and
    the MMR candidate pool."""
    return exact_topk10(spark, sf_dir)


# session-shared (catalog.shared): the exact fixed-Q-query top-10 is the
# registered sim_topk output AND the recall baseline of both approximate
# searches AND recsys_mmr_rerank's candidate pool — query-subset-sized
@shared
def exact_topk10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    return sim.cosine_topk(queries, emb, k=10).localCheckpoint(eager=False)


def _sim_lsh_cte() -> str:
    """Shared oracle CTE prefix: exact_top / lsh_top as
    (query_id, neighbor_id, rank) — consumed by the recall oracle AND
    the MRR/NDCG ranking-metrics oracle."""
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    bucket_cols = ", ".join(
        f"{e} AS b{t}"
        for t, e in enumerate(sql_portable_lsh_buckets("embedding", 8, 4, 64))
    )
    collide = " OR ".join(f"q.b{t} = c.b{t}" for t in range(8))
    return f"""
    qs AS ({sim.sql_query_sample_cte()}),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {bucket_cols}
        FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qs)),
    c AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               {bucket_cols}
        FROM embeddings),
    exact_top AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       list_dot_product(qv, cv)
                           / sqrt(list_dot_product(qv, qv))
                           / sqrt(list_dot_product(cv, cv)) DESC,
                       neighbor_id) AS rank
            FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        WHERE rank <= 10),
    lsh_top AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       list_dot_product(qv, cv)
                           / sqrt(list_dot_product(qv, qv))
                           / sqrt(list_dot_product(cv, cv)) DESC,
                       neighbor_id) AS rank
            FROM q JOIN c
              ON query_id <> neighbor_id AND ({collide}))
        WHERE rank <= 10)"""


def _sim_lsh_oracle() -> str:
    return f"""
    WITH {_sim_lsh_cte()},
    hits AS (
        SELECT e.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top e JOIN lsh_top a
          USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


@query("sim_topk_lsh", oracle=_sim_lsh_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — approximate top-k via multi-table hyperplane LSH (scores
    only candidates sharing a bucket in any of 8 tables), upgraded to
    PORTABLE integer signatures (operators/similarity
    .portable_lsh_buckets: quantized components × integer planes —
    exact int64 dot signs, bit-identical in DuckDB), so the formerly
    rows-only key is now fully ORACLE-PAIRED: the oracle reruns the
    banding, the pruned search AND the exact baseline.

    Driver-visible output is the quantitative evidence, not the raw
    neighbor list: per-query recall@10 vs the exact brute-force
    baseline as scalar rows (query_id, k, n_exact, n_hit, recall);
    tests bound mean recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    approx = sim.cosine_topk_lsh_portable(
        queries, emb, k=10, n_tables=8, bits=4, dim=64
    )
    exact = exact_topk10(spark, sf_dir)
    return sim.topk_recall(approx, exact, k=10).orderBy("query_id")


def _sim_ivf_oracle() -> str:
    cos = sim.SQL_COSINE
    return f"""
    WITH {sim.SQL_QUANTIZED_VECTORS},
    {sim.sql_ivf_centroids()},
    qs AS ({sim.sql_query_sample_cte()}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id IN (SELECT vec_id FROM qs)),
    probed AS (
        SELECT query_id, label FROM (
            SELECT query_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       {cos.format(a="qv", b="cvec")} DESC, c.label) AS rn
            FROM q CROSS JOIN cents c)
        WHERE rn <= 3),
    ivf_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                       {cos.format(a="q.qv", b="e.v")} DESC,
                       e.vec_id) AS rank
            FROM probed p
            JOIN e ON e.label = p.label
            JOIN q ON q.query_id = p.query_id
            WHERE e.vec_id <> p.query_id)
        WHERE rank <= 10),
    exact_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       {cos.format(a="qv", b="v")} DESC, vec_id) AS rank
            FROM q CROSS JOIN e WHERE query_id <> vec_id)
        WHERE rank <= 10),
    hits AS (
        SELECT x.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top x JOIN ivf_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


@query("sim_topk_ivf", oracle=_sim_ivf_oracle())
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — IVF-style approximate top-k: per-cell centroids (cells from
    the label column; a trained quantizer plugs in the same way),
    queries probe their 3 nearest cells only.  Upgraded to PORTABLE
    centroids (operators/similarity.ivf_centroids_portable): the
    centroid is the un-normalized SUM of integer-quantized components —
    exact int64, summation-order-free, and cosine is scale-invariant so
    cell ranking is unchanged in spirit — which makes the probe set
    deterministic and the formerly rows-only key fully ORACLE-PAIRED.

    Driver-visible output is per-query recall@10 vs brute force as
    scalar rows (query_id, k, n_exact, n_hit, recall) — same evidence
    contract as sim_topk_lsh; tests bound recall on clustered data."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    approx = sim.ivf_topk_portable(queries, emb, k=10, nprobe=3)
    exact = exact_topk10(spark, sf_dir)
    return sim.topk_recall(approx, exact, k=10).orderBy("query_id")


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "multimodal_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS L
        FROM documents
        WHERE octet_length(encode(text)) > 0),
    by AS (
        SELECT doc_id, L, k, ascii(substr(text, CAST(k AS INT), 1)) AS b
        FROM d, UNNEST(range(1, CAST(L + 1 AS INT))) AS t(k)),
    agg AS (
        SELECT doc_id, MIN(L) AS L,
               CAST(SUM(b) AS BIGINT) AS sa,
               CAST(SUM((L - k + 1) * b) AS BIGINT) AS sb,
               CAST(SUM(CASE WHEN b % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN b % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(CASE WHEN b % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2,
               CAST(SUM(CASE WHEN b % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c3
        FROM by GROUP BY doc_id)
    SELECT doc_id, CAST(L AS INT) AS n_bytes,
           CAST(((L + sb) % 65521) * 65536 + ((1 + sa) % 65521) AS BIGINT)
               AS checksum,
           FLOOR(CAST(sa AS DOUBLE) / L * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS byte_mean,
           FLOOR(CAST(c0 AS DOUBLE) / L * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS f0,
           FLOOR(CAST(c1 AS DOUBLE) / L * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS f1,
           FLOOR(CAST(c2 AS DOUBLE) / L * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS f2,
           FLOOR(CAST(c3 AS DOUBLE) / L * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS f3
    FROM agg
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — binary payload + typed metadata → Arrow-batched
    mapInPandas feature extraction (byte-histogram decode; the codec
    swap-in is documented in operators/multimodal).

    Upgraded rows-only → ORACLE-PAIRED (r6): the payload is the UTF-8
    text (all-ASCII corpus — one byte per char), so DuckDB recomputes
    every output analytically — the ADLER-32 checksum from its closed
    form (A = 1+Σb mod 65521, B = n+Σ(n−k+1)·b_k mod 65521; crc32's
    table-driven polynomial was replaced for exactly this
    recomputability), the byte mean, and the 4-bucket byte histogram
    shares (floor-rounded 6 dp on both engines). The feature array is
    emitted as scalar columns f0..f3 (the driver canonicalizer cannot
    sort list cells — r2 ERR).

    100 TB: one narrow Arrow-batched pass, no shuffle; per-payload
    work is linear in bytes."""
    docs = load_table(spark, sf_dir, "documents")
    # empty payloads are excluded SYMMETRICALLY with the oracle (whose
    # UNNEST(range(1, L+1)) silently drops L=0 rows) — the two engines
    # previously disagreed on that edge (r6 ADVICE)
    docs = docs.filter(F.length("text") > 0)
    media = mm.attach_binary_payload(docs)
    feats = mm.extract_features(media)
    return feats.select(
        "doc_id", "n_bytes", "checksum", "byte_mean",
        *[
            F.element_at("features", i + 1).alias(f"f{i}")
            for i in range(4)
        ],
    )


@query(
    "multimodal_decode",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS L,
               ascii(substr(text, 1, 1)) AS b0,
               doc_id % 2 = 0 AS is_img
        FROM documents
    ), d AS (
        SELECT doc_id, is_img, L,
               4 + (L % 5) AS w,
               4 + (b0 % 5) AS h
        FROM b
    )
    SELECT doc_id,
           CASE WHEN is_img THEN 'image/bmp' ELSE 'audio/wav' END AS media_type,
           CAST(CASE WHEN is_img
                     THEN 54 + (w*3 + (4 - (w*3) % 4) % 4) * h
                     ELSE 44 + 2*L END AS INT) AS n_bytes,
           CAST(CASE WHEN is_img THEN w END AS INT) AS width,
           CAST(CASE WHEN is_img THEN h END AS INT) AS height,
           CAST(CASE WHEN is_img THEN 3 ELSE 1 END AS INT) AS n_channels,
           CAST(CASE WHEN is_img THEN NULL ELSE L END AS INT) AS n_samples,
           CAST(CASE WHEN is_img THEN NULL ELSE 8000 END AS INT) AS sample_rate
    FROM d
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — REAL media decode, no codec libraries: even doc_ids
    become valid 24-bit BMPs, odd doc_ids valid 16-bit PCM WAVs
    (synthesized deterministically from the text), then an Arrow-batched
    mapInPandas stage parses the containers back (header walk, row
    padding, RIFF chunk list — operators/multimodal.decode_bmp/decode_wav)
    and emits the decoded structural fields. The oracle recomputes the
    expected dimensions/sizes/sample-counts from the text alone, so the
    decode round-trip is value-checked end-to-end by DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_media_payload(docs)
    feats = mm.extract_decoded_features(media)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "width", "height",
        "n_channels", "n_samples", "sample_rate",
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               CAST((octet_length(encode(text)) + 63) // 64 AS INT)
                   AS n_chunks
        FROM documents WHERE doc_id % 10 = 0)
    SELECT doc_id, CAST(i AS INT) AS sample_idx,
           md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS chunk_md5
    FROM d, UNNEST(range(0, n_chunks)) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — frame-sampling analog: one row per 64-byte payload
    slice (the explode-shaped stage of a video pipeline), each slice
    fingerprinted by md5 — the frame-level dedup/lineage key a video
    pipeline carries downstream.

    Upgraded rows-only → ORACLE-PAIRED (r6): the payload is the UTF-8
    document text (all-ASCII corpus, verified at every SF — one byte
    per char), so DuckDB reproduces every slice hash with
    md5(substr(text, i·64+1, 64)); the Arrow-batched mapInPandas slicing
    (operators/multimodal.frame_sample) is value-checked end-to-end.

    100 TB: pure map-side explode — per-payload work is
    ceil(bytes/64) rows; no shuffle anywhere in the stage."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return mm.frame_sample(mm.attach_binary_payload(docs))


@query(
    "kmeans_assign",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.embedding::DOUBLE[], c.cvec)
                   / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]))
                   / sqrt(list_dot_product(c.cvec, c.cvec)) AS cos_raw
        FROM embeddings e CROSS JOIN c),
    ranked AS (
        SELECT vec_id, cid, cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY cos_raw DESC, cid) AS rn
        FROM d)
    SELECT vec_id, cid AS cluster,
           FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM ranked WHERE rn = 1
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — k-means assignment step (Lloyd's E-step): every
    vector routed to its nearest of k=8 centroids by cosine. Centroids
    here are a deterministic seed set (vec_id < 8) so the result is
    oracle-checkable; a trained centroid table plugs into the same plan.
    This is the building block under sim_topk_ivf's cell routing and of
    any embedding-space clustering pass over a 100 TB corpus: centroids
    broadcast, candidates never shuffle, scoring is codegen
    aggregate(zip_with) — cost O(k·n) with no exchange at all (the
    rank-1 window partitions by vec_id, which arrives pre-partitioned
    from the scan and is WindowGroupLimit-pruned map-side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.as_double_vectors(emb.filter(F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    vecs = sim.as_double_vectors(emb).select(
        "vec_id", F.col("embedding").alias("evec")
    )
    cos = (
        sim._dot(F.col("evec"), F.col("cvec"))
        / sim._norm(F.col("evec"))
        / sim._norm(F.col("cvec"))
    )
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", cos.alias("cos_raw")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_raw").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            roundn(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
    dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
           FLOOR(tf.tf * (ln((n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0)
                 * 10000.0 + 0.5) / 10000.0 AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN total
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — corpus TF-IDF scoring (smoothed idf,
    ln((N+1)/(df+1))+1): the classic relevance/keyword-extraction weight,
    and the exact-counting baseline under any embedding retrieval tier.

    Scale: term frequencies are one explode→groupBy shuffle carrying
    (doc, token, count); document frequencies aggregate FROM the tf
    relation (no second corpus scan). The idf join is keyed on token —
    vocabulary-sized, so it broadcasts after any frequency cut; the
    corpus-size scalar is a one-row broadcast. ln() is libm on both
    engines — rounded at 4 like every cross-engine float."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.tokens_col(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * (
        F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            roundn(score, 4).alias("tfidf"),
        )
    )


#: GPT-2-style pre-tokenizer classes, simplified to the ASCII feed:
#: letter runs | digit runs | punctuation runs (no \p classes — the
#: pattern must parse identically under Java regex and RE2/DuckDB)
PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9]+"


@query(
    "text_pretokenize",
    oracle=f"""
    SELECT c_custkey,
           CAST(len(regexp_extract_all(c_name, '{PRETOKEN_RE}')) AS INT)
               AS n_pieces,
           array_to_string(regexp_extract_all(c_name, '{PRETOKEN_RE}'), '|')
               AS pieces
    FROM customer
    """,
)
def text_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — BPE-style pre-tokenization: split mixed
    alphanumeric/punctuation strings into letter/digit/punct runs (the
    class boundaries GPT-2-family tokenizers cut on BEFORE byte-pair
    merging), demonstrated on the key-bearing `c_name` field where the
    split is non-trivial ('Customer#000000042' → 3 pieces; the document
    corpus is pure word-soup and would degenerate to whitespace
    tokens). Token-COUNT accounting for context budgeting without
    shipping a tokenizer model; pieces join back as a string because
    the cross-engine comparator hashes scalar cells.

    Scale: one regex per row inside codegen — a pure map stage like
    pii_scan; no shuffle, no UDF."""
    c = load_table(spark, sf_dir, "customer")
    pieces = F.regexp_extract_all("c_name", F.lit(PRETOKEN_RE), F.lit(0))
    return c.select(
        "c_custkey",
        F.size(pieces).cast("int").alias("n_pieces"),
        F.array_join(pieces, "|").alias("pieces"),
    )


@query(
    "multimodal_manifest",
    oracle="""
    SELECT doc_id,
           'application/octet-stream' AS media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(GREATEST((octet_length(encode(text)) - 16) // 64, 0)
                AS BIGINT) AS n_frames,
           CAST(octet_length(encode(text)) % 16 AS INT) AS route_bucket
    FROM documents
    """,
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — multimodal ingest MANIFEST: the typed-metadata path of
    the binary-column tier, fully oracle-checked (unlike the decode path,
    which is env-stubbed): per-item content hash, byte length, expected
    frame count under a fixed header+frame layout (16-byte header,
    64-byte frames — the arithmetic a media reader uses to plan range
    reads), and a size-derived routing bucket. This is what an object-
    store crawl writes BEFORE any decode: dedup keys (sha256), layout
    stats, and shard routing all come from bytes, not codecs.

    100 TB: one narrow scan — hash/length are codegen over the payload
    column; the manifest is rows-not-bytes sized, so it broadcast-joins
    back to route the heavy decode stage (multimodal_features) without
    ever shuffling payloads.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_payload = mm.attach_binary_payload(docs)
    nb = F.col("media_meta.n_bytes")
    return with_payload.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        nb.alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
        F.greatest(
            F.floor((nb - F.lit(16)) / F.lit(64)), F.lit(0)
        ).cast("bigint").alias("n_frames"),
        (nb % F.lit(16)).alias("route_bucket"),
    )


@query(
    "embedding_normalize",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label, embedding,
               sqrt(list_sum(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE) *
                                                 CAST(x AS DOUBLE)))) AS l2
        FROM embeddings)
    SELECT vec_id, label,
           {sql_roundn("l2", 4)} AS l2_norm,
           (l2 BETWEEN 0.999 AND 1.001) AS already_unit,
           CAST(len(embedding) AS INT) AS n_dims
    FROM n
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — vector hygiene before similarity search: per-vector
    L2 norm and a unit-norm audit flag. Cosine similarity degrades to an
    unnormalized dot product when upstream embedding jobs disagree on
    normalization — this is the QC gate that catches it (the actual
    renormalization is then `transform(v, x -> x / l2)`, elided from the
    output because the driver compares scalars, and asserted in the
    invariant tests).

    100 TB: `aggregate` over the array is codegen per row — no explode,
    no shuffle; the norm audit aggregates to one row per vector, so the
    gate's output is rows-not-dims sized.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return emb.select(
        "vec_id",
        "label",
        roundn(l2, 4).alias("l2_norm"),
        l2.between(0.999, 1.001).alias("already_unit"),
        F.size("embedding").alias("n_dims"),
    )


@query(
    "text_bm25",
    oracle=f"""
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
               AVG(dl * 1.0e0) AS avg_dl
        FROM dl),
    dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    qterms AS (
        SELECT token FROM (
            SELECT token, SUM(tf) AS n FROM tf GROUP BY 1
            ORDER BY n DESC, token LIMIT 3))
    SELECT tf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           {sql_roundn(
               "SUM(ln((n_docs - df + 0.5e0) / (df + 0.5e0) + 1.0e0)"
               "    * (tf.tf * 2.2e0)"
               "    / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / avg_dl)))",
               4)} AS bm25
    FROM tf
    JOIN qterms USING (token)
    JOIN dfreq USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — BM25 relevance scoring (k1=1.2, b=0.75) against the
    corpus's three most frequent tokens as the standing query: the
    retrieval-ranking step past TF-IDF (text_tfidf) — term saturation
    (k1) stops high-tf spam from dominating, length normalization (b)
    stops long documents from winning by volume. The query-term set is
    derived deterministically (top total-tf, token tiebreak) so both
    engines score the identical query.

    100 TB: tf/df/length stats all come from ONE tokenize pass (same
    shuffles as text_tfidf); query terms and corpus stats are tiny and
    broadcast; scoring touches only postings of the query terms —
    |qterms| × avg-postings rows, not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    # lazy checkpoints: tok feeds tf and dl; tf feeds df, the query-term
    # cut, and the scoring join — without them each consumer re-runs
    # the tokenize pass (plan-census finding: 6 scans)
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
    return (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfreq.join(qterms, "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            roundn(F.sum(idf * sat), 4).alias("bm25"),
        )
    )


@query(
    "text_keywords",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
    dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               FLOOR(tf.tf * (ln((n_docs + 1.0e0) / (dfreq.df + 1.0e0))
                              + 1.0e0) * 1000000.0e0 + 0.5e0)
                   / 1000000.0e0 AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN total),
    ranked AS (
        SELECT doc_id, token, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token)
                    AS INT) AS kw_rank
        FROM scored)
    SELECT doc_id, kw_rank, token, tfidf
    FROM ranked WHERE kw_rank <= 3
    """,
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — per-document keyword extraction: each document's
    top-3 most DISTINCTIVE tokens by TF-IDF (not top-frequency — those
    are stopword-like corpus-wide). The metadata-tagging step of a
    curation pipeline: keywords feed topic routing, dedup explanations,
    and search facets. Ranking uses the score ROUNDED to 6 decimals with
    a token tiebreak so the selected set is identical across engines —
    ranking on raw floats would let last-ulp ln() differences flip
    near-ties.

    100 TB: the same one-tokenize-pass tf/df shuffles as text_tfidf,
    then WindowGroupLimit prunes to 3 rows per doc BEFORE the final
    projection — output is 3×|docs|, never |postings|.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    tfidf = roundn(
        F.col("tf")
        * (
            F.log(
                (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
            )
            + F.lit(1.0)
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "token", tfidf.alias("tfidf"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), "token"
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "kw_rank", "token", "tfidf")
    )


@query(
    "embedding_quantize",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS n_dims,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0e0 AS scale
        FROM embeddings),
    err AS (
        SELECT e.vec_id, q.n_dims, q.scale,
               list_transform(e.embedding,
                   x -> abs(CAST(x AS DOUBLE)
                        - FLOOR(CAST(x AS DOUBLE) / q.scale + 0.5e0)
                          * q.scale)) AS errs
        FROM embeddings e JOIN q USING (vec_id)
        WHERE q.scale > 0)
    SELECT vec_id, n_dims,
           {sql_roundn("scale", 8)} AS scale,
           {sql_roundn("list_max(errs)", 8)} AS max_abs_err,
           {sql_roundn(
               "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
               "list_transform(errs, x -> x * x)), (acc, x) -> acc + x)"
               " / n_dims", 10)} AS mse
    FROM err ORDER BY vec_id
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — symmetric int8 quantization audit: per vector,
    scale = max|x|/127, q_i = half-up(x_i/scale), and the
    reconstruction-error profile (max absolute error, MSE) of
    dequantizing q_i·scale. The standing pre-flight check before
    shipping an embedding corpus to an int8 ANN index (4× smaller,
    ~GEMM-rate scoring) — vectors whose error profile is an outlier
    (one dominant coordinate blows up everyone else's step size) need
    per-block scales instead.

    Float discipline: float32 inputs widen to identical doubles on both
    engines; quantize uses the catalog's floor(x+0.5) half-up (NOT
    banker's round — engines disagree on .5 ties); the MSE sum is a
    LEFT FOLD on both sides (F.aggregate / list_reduce), so the
    summation order — and therefore the bits — match by construction.

    100 TB: pure per-row array arithmetic in whole-stage codegen — no
    shuffle, no UDF; the 64-dim fold is ~200 flops/row. The int8
    payload itself (transform to TINYINT array) is elided from the
    registered output because the driver compares scalars; the
    library-facing variant is the same expression minus the error
    stats."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, F.abs)) / F.lit(127.0)
    q = emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_dims"),
        scale.alias("scale"),
        xd.alias("xd"),
    ).filter(F.col("scale") > 0)
    errs = F.transform(
        F.col("xd"),
        lambda x: F.abs(
            x - F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale")
        ),
    )
    return (
        q.select(
            "vec_id",
            "n_dims",
            roundn(F.col("scale"), 8).alias("scale"),
            roundn(F.array_max(errs), 8).alias("max_abs_err"),
            roundn(
                F.aggregate(
                    F.transform(errs, lambda e: e * e),
                    F.lit(0.0),
                    lambda acc, e: acc + e,
                )
                / F.col("n_dims"),
                10,
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH ex AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS x
        FROM embeddings),
    per AS (
        SELECT label, dim, SUM(x) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2),
    g AS (
        SELECT label, dim, s, n,
               SUM(s) OVER (PARTITION BY dim) AS gs,
               SUM(n) OVER (PARTITION BY dim) AS gn
        FROM per)
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vecs,
           {sql_roundn(
               "SQRT(SUM((s / n - gs / gn) * (s / n - gs / gn)))", 4
           )} AS drift
    FROM g GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — embedding-space domain-shift audit: per label
    cohort, the L2 distance between the cohort centroid and the global
    corpus centroid. A cohort whose centroid drifts far from the global
    one occupies its own region of embedding space — the signal that a
    source changed domain, an encoder version skewed, or a slice needs
    its own ANN index. The distributional cousin of the per-vector
    embedding_normalize gate.

    100 TB: vectors explode to (label, dim, x) — dims× the row count
    but each row is 20 bytes, and the (label, dim) rollup is map-side
    combined, so the shuffle carries |labels|·|dims| partial sums, not
    vectors. The global centroid derives from the SAME rollup by a
    window over the tiny aggregated relation (one fact pass — no
    diamond, same lesson as market_basket); everything after is
    |labels|·|dims| sized. Float discipline: sums of doubles rounded at
    4dp sit ~1e5 ulps above the cross-engine summation-order noise.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "x")
    per = ex.groupBy("label", "dim").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    wd = Window.partitionBy("dim")
    g = per.select(
        "label",
        "dim",
        "s",
        "n",
        F.sum("s").over(wd).alias("gs"),
        F.sum("n").over(wd).alias("gn"),
    )
    d = F.col("s") / F.col("n") - F.col("gs") / F.col("gn")
    return g.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        roundn(F.sqrt(F.sum(d * d)), 4).alias("drift"),
    )


@query(
    "text_lang_confusion",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS token
        FROM documents),
    profile AS (
        SELECT lang, token FROM (
            SELECT lang, token,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY COUNT(*) DESC, token
                   ) AS rnk
            FROM tok GROUP BY lang, token
        ) WHERE rnk <= 10),
    scored AS (
        SELECT t.doc_id, p.lang AS cand_lang, COUNT(*) AS hits
        FROM tok t JOIN profile p ON t.token = p.token
        GROUP BY t.doc_id, p.lang),
    best AS (
        SELECT doc_id, cand_lang AS predicted_lang,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY hits DESC, cand_lang
               ) AS rnk
        FROM scored),
    cells AS (
        SELECT d.lang AS true_lang, b.predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM best b JOIN documents d USING (doc_id)
        WHERE b.rnk = 1
        GROUP BY 1, 2)
    SELECT true_lang, predicted_lang, n_docs,
           {sql_roundn(
               "n_docs * 1.0e0 / SUM(n_docs) OVER (PARTITION BY true_lang)",
               6,
           )} AS row_share,
           (true_lang = predicted_lang) AS is_diagonal
    FROM cells
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — the language-ID EVALUATION harness: the confusion
    matrix of the n-gram classifier (text_langid) against the labeled
    lang column, with per-true-language recall shares. text_langid
    scores documents; this is the query a pipeline owner actually reads
    before trusting the classifier to route a corpus — which language
    pairs leak into each other, and how much of each slice is
    misrouted. Same classifier expression tree as text_langid (profile
    build + broadcast + hit-count argmax), so the two stay consistent
    by construction.

    100 TB: identical profile to text_langid — the per-language profile
    is dimension-sized and broadcasts onto the token stream; ONE
    doc-keyed shuffle for the argmax; the confusion rollup collapses to
    |langs|² cells, map-side combined. The row_share window runs over
    the cell table.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tok feeds the profile build AND the scoring join — checkpoint so
    # the tokenize pass runs once (plan-census lesson)
    tok = docs.select(
        "doc_id", "lang", F.explode(tx.tokens_col(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    w_prof = Window.partitionBy("lang").orderBy(F.col("count").desc(), "token")
    profile = (
        tok.groupBy("lang", "token")
        .count()
        .withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= 10)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    scored = (
        tok.select("doc_id", "token")
        .join(F.broadcast(profile), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), "cand_lang"
    )
    best = (
        scored.withColumn("rnk", F.row_number().over(w_best))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"))
    )
    cells = (
        best.join(docs.select("doc_id", F.col("lang").alias("true_lang")),
                  "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w_row = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        roundn(
            F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w_row), 6
        ).alias("row_share"),
        (F.col("true_lang") == F.col("predicted_lang")).alias("is_diagonal"),
    )


#: Lloyd's iterations unrolled in the plan (assignment -> mean twice)
_KM_ITERS = 2
#: cluster count: seeded from the K smallest vec_ids
_KM_K = 4


@query(
    "kmeans_iterate",
    oracle=f"""
    WITH ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS x
        FROM embeddings),
    c0 AS (
        SELECT vec_id AS cid, dim, x AS c FROM ex WHERE vec_id < {_KM_K}),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM ex e JOIN c0 c USING (dim)
            GROUP BY e.vec_id, c.cid) WHERE rn = 1),
    c1 AS (
        SELECT a.cid, e.dim, AVG(e.x) AS c
        FROM ex e JOIN a1 a USING (vec_id)
        GROUP BY a.cid, e.dim),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.x - c.c) * (e.x - c.c)), c.cid
                   ) AS rn
            FROM ex e JOIN c1 c USING (dim)
            GROUP BY e.vec_id, c.cid) WHERE rn = 1),
    c2 AS (
        SELECT a.cid, e.dim, AVG(e.x) AS c
        FROM ex e JOIN a2 a USING (vec_id)
        GROUP BY a.cid, e.dim),
    dist AS (
        SELECT a.vec_id, a.cid,
               SUM((e.x - c.c) * (e.x - c.c)) AS d2
        FROM ex e JOIN a2 a USING (vec_id) JOIN c2 c
          ON a.cid = c.cid AND e.dim = c.dim
        GROUP BY a.vec_id, a.cid)
    SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {sql_roundn("SUM(d2)", 2)} AS inertia
    FROM dist GROUP BY cid
    """,
)
def kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-extension — FULL Lloyd's k-means (kmeans_assign is the E-step
    alone): deterministic seeding from the K smallest vec_ids, then two
    unrolled assignment→mean iterations, reporting per-cluster size and
    inertia against the final centroids. The iterative-ML pattern on
    DataFrames: each iteration is one plan layer (distance join →
    argmin window → mean rollup), so Catalyst sees the whole loop and
    the convergence trade is explicit — iterations × passes, exactly
    like graph_pagerank's rounds.

    Exploded (vec, dim, x) space keeps the distance arithmetic
    identical on both engines; assignment argmin is unrounded but
    cluster margins (~1e-1) sit ~9 orders above cross-engine
    summation noise (~1e-12) — same float posture as kmeans_assign.

    100 TB: per iteration, the distance join broadcasts the K·dims
    centroid relation against one fact pass, and the mean rollup
    map-side combines to K·dims — the classic Lloyd profile (one scan
    per iteration, no all-pairs). The unrolled plan re-derives the
    exploded relation per pass; a production loop caches it once
    (immutable across iterations) and checkpoints assignments every
    few rounds — the dedup_clusters checkpoint pattern.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "x")

    centroids = (
        ex.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), "dim", F.col("x").alias("c"))
    )

    def assign(cents):
        d = (
            ex.join(F.broadcast(cents), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
                ).alias("d2")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    def update(assigned):
        return (
            ex.join(assigned, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("c"))
        )

    for _ in range(_KM_ITERS):
        assigned = assign(centroids)
        centroids = update(assigned)

    dist = (
        ex.join(assigned, "vec_id")
        .join(F.broadcast(centroids), ["cid", "dim"])
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
            ).alias("d2")
        )
    )
    return dist.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_vecs"),
        roundn(F.sum("d2"), 2).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# LSH S-curve calibration (r3x wave)
# ---------------------------------------------------------------------------

#: calibration stratum size: the S-curve is MEASURED on a fixed-D
#: hash-rank document sample, so the exact pair universe is ≤ D²/2 at
#: any corpus size (the r5 verdict's "sampled, not full-corpus" claim,
#: made code).  D ≥ the sf0.01 gate corpus, so the oracle comparison is
#: over the full corpus there; at larger SFs the stratum caps the cost.
_LSH_CAL_DOCS = 512


def _lsh_calibration_oracle() -> str:
    perms = dd._hash_params(32)
    sig_cols = ",\n               ".join(
        f"MIN(({a} * h + {b}) % 2147483647) AS sig_{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, "
        "CAST(sig_{r0} AS VARCHAR) || '_' || CAST(sig_{r1} AS VARCHAR) "
        "|| '_' || CAST(sig_{r2} AS VARCHAR) || '_' "
        "|| CAST(sig_{r3} AS VARCHAR) AS bucket FROM sig".format(
            b=b, r0=4 * b, r1=4 * b + 1, r2=4 * b + 2, r3=4 * b + 3
        )
        for b in range(8)
    )
    jr = "j * j * j * j"
    q8 = "q * q * q * q * q * q * q * q"
    return f"""
    WITH ds AS ({sim.sql_query_sample_cte(_LSH_CAL_DOCS, "documents", "doc_id")}),
    sh AS (
        SELECT DISTINCT doc_id, UNNEST({tx.SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3
          AND doc_id IN (SELECT doc_id FROM ds)),
    h AS (
        SELECT doc_id, {_MINHASH_CHARFOLD} AS h FROM sh),
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM h GROUP BY doc_id),
    banded AS (
        {band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    univ AS (
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM sh sa JOIN sh sb
          ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
        GROUP BY 1, 2),
    scored AS (
        SELECT u.doc_a, u.doc_b,
               u.n_both / (ca.n_sh + cb.n_sh - u.n_both) AS j,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS collided
        FROM univ u
        JOIN cnt ca ON ca.doc_id = u.doc_a
        JOIN cnt cb ON cb.doc_id = u.doc_b
        LEFT JOIN cand c ON c.doc_a = u.doc_a AND c.doc_b = u.doc_b),
    pq AS (
        SELECT CAST(FLOOR(j * 10.0e0) AS BIGINT) AS j_bucket, collided,
               CAST(FLOOR((1.0e0 - ({q8})) * 1000000.0e0 + 0.5e0)
                    AS BIGINT) AS p_micro
        FROM (SELECT doc_a, doc_b, j, collided, 1.0e0 - ({jr}) AS q
              FROM scored))
    SELECT j_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(collided) AS BIGINT) AS n_collided,
           {sql_roundn("SUM(collided) * 1.0e0 / COUNT(*)", 4)}
               AS measured_rate,
           {sql_roundn("SUM(p_micro) / (COUNT(*) * 1000000.0e0)", 4)}
               AS predicted_rate
    FROM pq GROUP BY j_bucket ORDER BY j_bucket
    """


@query("dedup_lsh_calibration", oracle=_lsh_calibration_oracle())
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-evidence — MinHash-LSH S-CURVE CALIBRATION: over every
    co-shingled pair (the exact-Jaccard universe), the measured
    banding-collision rate per Jaccard decile NEXT TO the theoretical
    curve P(candidate | J) = 1 − (1 − J⁴)⁸ for the registered 8×4
    config — the table an engineer reads before picking bands/rows for
    a 100 TB dedup run, produced from the pipeline's own signatures
    rather than trusted from the textbook. Low-J deciles should show
    ≈0 collision (shuffle waste if not), the knee (J≈0.5 → p≈0.4)
    should match, high-J deciles should approach 1 (recall).

    Exactness: J is exact integer set arithmetic; the prediction's
    powers are literal multiplication chains (no pow/libm); per-decile
    prediction averages are μ-quantized to int64 BEFORE summation
    (order-free — the embedding_gram_matrix discipline), so no
    float-sum order dependence anywhere.

    100 TB: the calibration runs on a FIXED-D hash-rank document
    stratum (D={D} — the whole corpus at the sf0.01 gate, a bounded
    sample beyond), so the exact pair universe is ≤ D²/2 at any corpus
    size; within the stratum the universe is the Σ|bucket|² shingle
    join (never all-pairs) and candidates the banded bucket join.  The
    decile rollup is map-side combined; the signature/shingle
    relations feed multiple consumers and are checkpointed inside the
    operators."""
    docs = sim.sample_queries(
        load_table(spark, sf_dir, "documents"), q=_LSH_CAL_DOCS,
        id_col="doc_id",
    )
    # r10 (r9 verdict task #6): the stratum's shingles are the SESSION
    # corpus_shingles relation restricted to the sampled ids (filter
    # commutes with per-doc tokenization — identical rows), so the
    # tokenize+explode+distinct pass is shared with the dedup family
    # instead of re-run on the stratum.  The STRATUM itself stays
    # private — only the full-corpus relation feeding it is shared.
    ids = sim.query_sample_ids(
        load_table(spark, sf_dir, "documents"), q=_LSH_CAL_DOCS,
        id_col="doc_id",
    )
    sh = (
        corpus_shingles(spark, sf_dir)
        .join(F.broadcast(ids), "doc_id", "semi")
        .localCheckpoint(eager=False)
    )
    univ = dd.ngram_jaccard_pairs(docs, threshold=0.0, shingles=sh)
    cand = dd.minhash_band_candidates(docs, 32, 8, 3, shingles=sh).select(
        "doc_a", "doc_b", F.lit(1).alias("collided")
    )
    scored = (
        univ.join(F.broadcast(cand), ["doc_a", "doc_b"], "left")
        .select(
            F.col("jaccard").alias("j"),
            F.coalesce("collided", F.lit(0)).alias("collided"),
        )
    )
    j = F.col("j")
    jr = j * j * j * j
    q = F.lit(1.0) - jr
    q8 = q * q * q * q * q * q * q * q
    pq = scored.select(
        F.floor(j * F.lit(10.0)).cast("long").alias("j_bucket"),
        "collided",
        F.floor((F.lit(1.0) - q8) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("p_micro"),
    )
    return (
        pq.groupBy("j_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("collided").cast("long").alias("n_collided"),
            roundn(
                F.sum("collided") * F.lit(1.0) / F.count("*"), 4
            ).alias("measured_rate"),
            roundn(
                F.sum("p_micro") / (F.count("*") * F.lit(1000000.0)), 4
            ).alias("predicted_rate"),
        )
        .orderBy("j_bucket")
    )


dedup_lsh_calibration.__doc__ = dedup_lsh_calibration.__doc__.format(
    D=_LSH_CAL_DOCS
)


# ---------------------------------------------------------------------------
# MMR diversity rerank (r4d wave)
# ---------------------------------------------------------------------------

#: MMR trade-off λ (exact binary fraction) and candidate pool depth
_MMR_LAMBDA = 0.5
_MMR_POOL = 10


def _mmr_oracle() -> str:
    topk = f"""
    qs AS ({sim.sql_query_sample_cte()}),
    q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qs)),
    c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, nid,
               list_dot_product(qv, cv)
                   / sqrt(list_dot_product(qv, qv))
                   / sqrt(list_dot_product(cv, cv)) AS cos_raw
        FROM q CROSS JOIN c WHERE query_id <> nid),
    top10 AS (
        SELECT query_id, nid,
               FLOOR(cos_raw * 10000.0e0 + 0.5e0) / 10000.0e0 AS rel
        FROM (
            SELECT query_id, nid, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_raw DESC, nid) AS rnk
            FROM scored) WHERE rnk <= {_MMR_POOL}),
    psim AS (
        SELECT a.query_id, a.nid AS ia, b.nid AS ib,
               FLOOR(list_dot_product(ea.cv, eb.cv)
                     / sqrt(list_dot_product(ea.cv, ea.cv))
                     / sqrt(list_dot_product(eb.cv, eb.cv))
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS sim
        FROM top10 a
        JOIN top10 b ON b.query_id = a.query_id AND b.nid <> a.nid
        JOIN c ea ON ea.nid = a.nid
        JOIN c eb ON eb.nid = b.nid)"""
    return f"""
    WITH {topk},
    s1 AS (
        SELECT query_id, nid, rel, {_MMR_LAMBDA}e0 * rel AS mmr
        FROM (
            SELECT query_id, nid, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, nid) AS rn
            FROM top10) WHERE rn = 1),
    c2 AS (
        SELECT t.query_id, t.nid, t.rel,
               {_MMR_LAMBDA}e0 * t.rel
                   - {1 - _MMR_LAMBDA}e0 * p.sim AS mmr
        FROM top10 t
        JOIN s1 ON s1.query_id = t.query_id AND t.nid <> s1.nid
        JOIN psim p ON p.query_id = t.query_id
                   AND p.ia = t.nid AND p.ib = s1.nid),
    s2 AS (
        SELECT query_id, nid, rel, mmr FROM (
            SELECT query_id, nid, rel, mmr,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY mmr DESC, nid) AS rn
            FROM c2) WHERE rn = 1),
    c3 AS (
        SELECT t.query_id, t.nid, t.rel,
               {_MMR_LAMBDA}e0 * t.rel - {1 - _MMR_LAMBDA}e0 * mx.ms AS mmr
        FROM top10 t
        JOIN s1 ON s1.query_id = t.query_id
        JOIN s2 ON s2.query_id = t.query_id
        JOIN LATERAL (
            SELECT MAX(p.sim) AS ms FROM psim p
            WHERE p.query_id = t.query_id AND p.ia = t.nid
              AND p.ib IN (s1.nid, s2.nid)) mx ON TRUE
        WHERE t.nid <> s1.nid AND t.nid <> s2.nid),
    s3 AS (
        SELECT query_id, nid, rel, mmr FROM (
            SELECT query_id, nid, rel, mmr,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY mmr DESC, nid) AS rn
            FROM c3) WHERE rn = 1)
    SELECT query_id, CAST(1 AS BIGINT) AS pick, nid AS item_id, rel,
           FLOOR(mmr * 10000.0e0 + 0.5e0) / 10000.0e0 AS mmr
    FROM s1
    UNION ALL
    SELECT query_id, 2, nid, rel,
           FLOOR(mmr * 10000.0e0 + 0.5e0) / 10000.0e0 FROM s2
    UNION ALL
    SELECT query_id, 3, nid, rel,
           FLOOR(mmr * 10000.0e0 + 0.5e0) / 10000.0e0 FROM s3
    ORDER BY query_id, pick
    """


@query("recsys_mmr_rerank", oracle=_mmr_oracle())
def recsys_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) DIVERSITY RERANK: each query's
    brute-force top-{p} pool is greedily re-selected down to {k} picks
    by mmr = λ·rel − (1−λ)·max-sim-to-already-picked (λ={lam}, an
    exact binary fraction) — relevance alone returns near-duplicates;
    MMR is the standard fix, and the same greedy selects DIVERSE
    training samples from a candidate pool. Fixed {k} unrolled
    selection steps (the graph_pagerank discipline) keep it
    SQL-expressible; tie-breaks on item id.

    Exactness: rel and all candidate-candidate sims are 4-dp
    floor-rounded ordered-fold cosines (the sim_topk discipline)
    BEFORE any comparison, so every argmax compares identical
    4-dp-quantized doubles on both engines; λ and 1−λ are powers of
    two.

    100 TB: the pool is top-{p} per query (WindowGroupLimit), so the
    rerank works on {p}·|queries| rows regardless of corpus size —
    candidate-candidate sims are {p}² per query, computed once and
    reused by every step; each step is one join + per-query argmax."""
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        _dot,
        _norm,
        as_double_vectors,
    )

    emb = as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    top10 = exact_topk10(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.col("cosine").alias("rel")
    )
    top10 = top10.localCheckpoint(eager=False)  # psim + 3 steps
    vecs = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
    ta, tb = top10.alias("ta"), top10.alias("tb")
    psim = (
        ta.join(
            tb,
            (F.col("tb.query_id") == F.col("ta.query_id"))
            & (F.col("tb.nid") != F.col("ta.nid")),
        )
        .select(
            F.col("ta.query_id").alias("query_id"),
            F.col("ta.nid").alias("ia"),
            F.col("tb.nid").alias("ib"),
        )
        .join(F.broadcast(vecs.select(F.col("nid").alias("ia"), F.col("cv").alias("va"))), "ia")
        .join(F.broadcast(vecs.select(F.col("nid").alias("ib"), F.col("cv").alias("vb"))), "ib")
        .select(
            "query_id",
            "ia",
            "ib",
            roundn(
                _dot(F.col("va"), F.col("vb"))
                / _norm(F.col("va"))
                / _norm(F.col("vb")),
                4,
            ).alias("sim"),
        )
    )
    psim = psim.localCheckpoint(eager=False)  # steps 2 and 3
    lam, mu = F.lit(_MMR_LAMBDA), F.lit(1 - _MMR_LAMBDA)
    wq = Window.partitionBy("query_id")

    def argmax(df):
        rn = F.row_number().over(wq.orderBy(F.desc("mmr"), F.asc("nid")))
        return df.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")

    s1 = argmax(top10.withColumn("mmr", lam * F.col("rel")))
    s1 = s1.localCheckpoint(eager=False)
    c2 = (
        top10.join(
            s1.select("query_id", F.col("nid").alias("p1")), "query_id"
        )
        .filter(F.col("nid") != F.col("p1"))
        .join(
            psim.select(
                "query_id", F.col("ia").alias("nid"), F.col("ib").alias("p1"), "sim"
            ),
            ["query_id", "nid", "p1"],
        )
        .withColumn("mmr", lam * F.col("rel") - mu * F.col("sim"))
    )
    s2 = argmax(c2.select("query_id", "nid", "rel", "mmr"))
    s2 = s2.localCheckpoint(eager=False)
    sel12 = s1.select("query_id", F.col("nid").alias("pid")).unionAll(
        s2.select("query_id", F.col("nid").alias("pid"))
    )
    c3 = (
        top10.join(sel12, "query_id")
        .filter(F.col("nid") != F.col("pid"))
        .join(
            psim.select(
                "query_id", F.col("ia").alias("nid"), F.col("ib").alias("pid"), "sim"
            ),
            ["query_id", "nid", "pid"],
        )
        .groupBy("query_id", "nid", "rel")
        .agg(F.count("*").alias("n_sel"), F.max("sim").alias("ms"))
        .filter(F.col("n_sel") == 2)  # exclude the two already picked
        .withColumn("mmr", lam * F.col("rel") - mu * F.col("ms"))
    )
    s3 = argmax(c3.select("query_id", "nid", "rel", "mmr"))
    out = (
        s1.select("query_id", F.lit(1).cast("long").alias("pick"),
                  F.col("nid").alias("item_id"), "rel",
                  roundn(F.col("mmr"), 4).alias("mmr"))
        .unionAll(
            s2.select("query_id", F.lit(2).cast("long"), F.col("nid"),
                      "rel", roundn(F.col("mmr"), 4))
        )
        .unionAll(
            s3.select("query_id", F.lit(3).cast("long"), F.col("nid"),
                      "rel", roundn(F.col("mmr"), 4))
        )
    )
    return out.orderBy("query_id", "pick")


# ---------------------------------------------------------------------------
# int8 quantization ranking-impact eval (r4e wave)
# ---------------------------------------------------------------------------

def _qeval_oracle() -> str:
    quant = """
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS x,
               list_max(list_transform(embedding::DOUBLE[], v -> ABS(v)))
                   / 127.0e0 AS s
        FROM embeddings),
    qv AS (
        SELECT vec_id, x, s,
               list_transform(x, v -> CAST(FLOOR(v / s + 0.5e0) AS BIGINT))
                   AS q
        FROM e WHERE s > 0)"""
    return f"""
    WITH {quant},
    qsamp AS ({sim.sql_query_sample_cte()}),
    qq AS (SELECT vec_id AS query_id, x AS qx, s AS qs, q AS qqv
           FROM qv WHERE vec_id IN (SELECT vec_id FROM qsamp)),
    ex AS (
        SELECT query_id, vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   list_dot_product(qx, x)
                       / sqrt(list_dot_product(qx, qx))
                       / sqrt(list_dot_product(x, x)) DESC, vec_id) AS rnk
        FROM qq JOIN qv ON vec_id <> query_id),
    aq AS (
        SELECT query_id, vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   (qs * s * list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(1, len(q) + 1),
                                           i -> qqv[i] * q[i])),
                        (a, b) -> a + b))
                   / (qs * sqrt(list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                            list_transform(qqv, v -> v * v)),
                        (a, b) -> a + b) * 1.0e0))
                   / (s * sqrt(list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                            list_transform(q, v -> v * v)),
                        (a, b) -> a + b) * 1.0e0)) DESC, vec_id) AS rnk
        FROM qq JOIN qv ON vec_id <> query_id)
    SELECT ex.query_id, CAST(10 AS BIGINT) AS k,
           CAST(COUNT(aq.nid) AS BIGINT) AS n_hit,
           FLOOR(COUNT(aq.nid) / 10.0e0 * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS recall
    FROM ex
    LEFT JOIN aq ON aq.query_id = ex.query_id AND aq.nid = ex.nid
                AND aq.rnk <= 10
    WHERE ex.rnk <= 10
    GROUP BY ex.query_id
    ORDER BY ex.query_id
    """


@query("embedding_quantize_eval", oracle=_qeval_oracle())
def embedding_quantize_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-evidence — RANKING impact of int8 quantization: per query,
    recall@10 of the top-10 computed from symmetric-int8 vectors
    (embedding_quantize's scheme — the serving index's arithmetic:
    exact INTEGER dot products rescaled by the two per-vector scales)
    against the exact float top-10. embedding_quantize reports
    reconstruction error per vector; this reports what actually
    matters — whether the NEIGHBORS change — completing the
    quantization decision table (4× smaller index at recall X).

    Exactness: quantized codes are identical integers on both engines
    (half-up floor of doubles-identical ratios); the integer dot and
    norm sums are exact int64 folds; only the two scale
    multiplications and the norm sqrts run as identical trees — and
    ranks, not raw scores, are compared.

    100 TB: the quantized ranking is the production ANN path (int8
    GEMM); the float ranking is the oracle — run this eval on a query
    sample before switching the index over."""
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        _dot,
        _norm,
        as_double_vectors,
    )

    emb = as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    s = F.array_max(F.transform(F.col("embedding"), F.abs)) / F.lit(127.0)
    inorm0 = lambda col: F.sqrt(
        F.aggregate(
            F.transform(col, lambda v: v * v),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )
        * F.lit(1.0)
    )
    # fan_out: the broadcast pair join inherits the scan's 1-3 splits
    # (all pair folds on one core otherwise); float/int norms hoisted
    # to each side — identical folds over identical vectors, so the
    # score trees below consume bit-identical operands
    qv = fan_out(
        emb.select(
            "vec_id",
            F.col("embedding").alias("x"),
            s.alias("s"),
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v / s + F.lit(0.5)).cast("long"),
            ).alias("q"),
        ).filter(F.col("s") > 0)
    ).select(
        "*",
        _norm(F.col("x")).alias("__xn"),
        inorm0(F.col("q")).alias("__qn"),
    )
    qv = qv.localCheckpoint(eager=False)  # both rankings, both sides
    qq = sim.sample_queries(qv).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("s").alias("qs"),
        F.col("q").alias("qqv"),
        F.col("__xn").alias("__qxn"),
        F.col("__qn").alias("__qqn"),
    )
    pairs = qv.join(F.broadcast(qq), F.col("vec_id") != F.col("query_id"))
    wq = Window.partitionBy("query_id")
    ex = (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("nid"),
            (
                _dot(F.col("qx"), F.col("x"))
                / F.col("__qxn")
                / F.col("__xn")
            ).alias("sc"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(wq.orderBy(F.desc("sc"), F.asc("nid"))),
        )
        .filter(F.col("rnk") <= 10)
        .select("query_id", "nid")
    )
    idot = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    aq = (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("nid"),
            (
                (F.col("qs") * F.col("s") * idot)
                / (F.col("qs") * F.col("__qqn"))
                / (F.col("s") * F.col("__qn"))
            ).alias("sc"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(wq.orderBy(F.desc("sc"), F.asc("nid"))),
        )
        .filter(F.col("rnk") <= 10)
        .select("query_id", F.col("nid").alias("anid"))
    )
    return (
        ex.join(
            aq,
            (ex["query_id"] == aq["query_id"]) & (ex["nid"] == aq["anid"]),
            "left",
        )
        .groupBy(ex["query_id"].alias("query_id"))
        .agg(
            F.lit(10).cast("long").alias("k"),
            F.count("anid").alias("n_hit"),
            roundn(F.count("anid") / F.lit(10.0), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# survivorship manifest: which copy of each dup cluster ships (r4 wave)
# ---------------------------------------------------------------------------

@query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {_DUP_REACH_SQL},
    cc AS (SELECT node, MIN(m) AS cluster_id FROM reach GROUP BY node),
    manifest AS (
        SELECT d.doc_id,
               COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
               CAST(len(d.text) AS BIGINT) AS score
        FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    )
    SELECT doc_id, cluster_id, score,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY score DESC, doc_id) = 1 AS keep
    FROM manifest
    ORDER BY cluster_id, doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 completion — SURVIVORSHIP manifest: near-dup clusters from the
    exact-Jaccard edge set (dedup_clusters' components), each cluster
    keeping its highest-QUALITY member (score = character length here;
    any quality_logistic/gopher score plugs into the same argmax) with
    doc_id tie-break; singletons keep themselves.  This is the artifact
    a training pipeline actually materializes — detect (pairs) →
    group (clusters) → DECIDE WHICH COPY SHIPS — where min-id "keep
    the representative" silently discards the best copy.

    Exactness: scores are integer lengths; the per-cluster argmax is a
    row_number over (score DESC, doc_id) — total order, engine-exact.

    100 TB: the cluster build is the measured bucketed shingle join +
    checkpointed CC loop, run ONCE PER SESSION (corpus_dup_clusters
    cache, shared with dedup_clusters / corpus_dedup_rate); the
    manifest adds one entity-sized left join and one cluster-keyed
    window (WindowGroupLimit-prunable argmax, partition size = cluster
    size — bounded by dedup cluster width, not corpus size)."""
    docs = load_table(spark, sf_dir, "documents")
    cc = corpus_dup_clusters(spark, sf_dir)
    manifest = (
        docs.select(
            "doc_id", F.length("text").cast("long").alias("score")
        )
        .join(
            cc.select(F.col("node").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "score",
        )
    )
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.desc("score"), F.asc("doc_id"))
    return manifest.select(
        "doc_id",
        "cluster_id",
        "score",
        F.count("*").over(wc).cast("long").alias("n_members"),
        (F.row_number().over(wr) == 1).alias("keep"),
    ).orderBy("cluster_id", "doc_id")


def _dedup_rate_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.plans.registry import REGISTRY as _R

    manifest = _R["dedup_keep_canonical"].oracle
    return f"""
    WITH m AS ({manifest})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN m.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN m.keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(m.score) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN m.keep THEN m.score ELSE 0 END) AS BIGINT)
               AS chars_kept,
           FLOOR(SUM(CASE WHEN m.keep THEN 0 ELSE 1 END) * 1.0e0
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS drop_rate
    FROM m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@query("corpus_dedup_rate", oracle=_dedup_rate_oracle())
def corpus_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 evidence rung — PER-SOURCE dedup-loss report over the
    survivorship manifest: docs and characters kept vs dropped per
    source feed, with the drop rate.  The number a corpus owner
    actually reviews before a training run — a source whose drop rate
    spikes is either a mirror of another feed or a scraper gone wrong
    (the source_mirror_matrix drill-down starts from this readout).

    The Spark side consumes the registered dedup_keep_canonical plan
    and the oracle NESTS its oracle SQL — report and manifest cannot
    drift (the qc_alert_routing composition discipline).

    100 TB: one entity-sized join (manifest ⋈ documents.source) and a
    source-cardinality aggregate on top of the manifest's own cost."""
    m = dedup_keep_canonical(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keep1 = F.when(F.col("keep"), 1).otherwise(0)
    return (
        m.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep1).cast("long").alias("n_kept"),
            F.sum(1 - keep1).cast("long").alias("n_dropped"),
            F.sum("score").alias("chars_total"),
            F.sum(F.when(F.col("keep"), F.col("score")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
            roundn(
                F.sum(1 - keep1) * F.lit(1.0) / F.count("*"), 6
            ).alias("drop_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ranking-quality metrics for the approximate search (r4 wave)
# ---------------------------------------------------------------------------

#: 1/log2(pos+1) discount weights in integer NANOS, positions 1..10 —
#: shared 9-dp literals on both engines (the _ANOVA_FCRIT discipline:
#: libm transcendentals never cross the engine boundary), so every DCG
#: term is an exact int64 product and the sums are order-free
import math as _math

_NDCG_W = tuple(
    int(round(1e9 / _math.log2(i + 1))) for i in range(1, 11)
)


def _mrr_ndcg_oracle() -> str:
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    )
    return f"""
    WITH {_sim_lsh_cte()},
    joined AS (
        SELECT a.query_id, a.rank AS apos,
               COALESCE(11 - e.rank, 0) AS rel
        FROM lsh_top a
        LEFT JOIN exact_top e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
    dcg AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS INT)
                   AS n_hits,
               MIN(CASE WHEN rel > 0 THEN apos END) AS first_hit,
               CAST(SUM(rel * (CASE apos {w_case} END)) AS BIGINT)
                   AS dcg_nanos
        FROM joined GROUP BY query_id),
    idcg AS (
        SELECT query_id,
               CAST(SUM((11 - rank) * (CASE rank {w_case} END)) AS BIGINT)
                   AS idcg_nanos
        FROM exact_top GROUP BY query_id)
    SELECT i.query_id,
           COALESCE(d.n_hits, 0) AS n_hits,
           FLOOR(COALESCE(1.0e0 / d.first_hit, 0.0e0) * 1000000.0 + 0.5)
               / 1000000.0 AS mrr,
           FLOOR(COALESCE(d.dcg_nanos, 0) * 1.0e0 / i.idcg_nanos
                 * 1000000.0 + 0.5) / 1000000.0 AS ndcg
    FROM idcg i LEFT JOIN dcg d USING (query_id)
    ORDER BY i.query_id
    """


@query("eval_mrr_ndcg", oracle=_mrr_ndcg_oracle())
def eval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics for the approximate search — recall@10
    (sim_topk_lsh) says WHETHER the right neighbors surface; MRR and
    NDCG@10 say WHERE: reciprocal rank of the first true neighbor and
    the graded, position-discounted agreement with the exact ranking
    (relevance of an approx result = 11 − its exact rank, 0 if outside
    the exact top-10).  The eval-harness pair every retrieval system
    reports beside recall.

    Exactness: discount weights 1/log2(pos+1) are PRECOMPUTED integer
    nano literals shared by both engines (libm never crosses the engine
    boundary — the F-crit discipline), so every DCG/IDCG term is an
    exact int64 product, the sums are order-free, and only the final
    NDCG/MRR divisions are float, identical-tree, 6-dp floor-rounded.

    100 TB: both rankings are the session-cached relations; the
    metrics add two query-keyed joins over ≤10-row groups."""
    exact = exact_topk10(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("erank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    approx = sim.cosine_topk_lsh_portable(
        queries, emb, k=10, n_tables=8, bits=4, dim=64
    ).select("query_id", "neighbor_id", F.col("rank").alias("apos"))
    w_arr = F.array(*[F.lit(w).cast("long") for w in _NDCG_W])
    joined = approx.join(
        exact, ["query_id", "neighbor_id"], "left"
    ).select(
        "query_id",
        "apos",
        F.coalesce(11 - F.col("erank"), F.lit(0)).alias("rel"),
    )
    dcg = joined.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("int")
        .alias("n_hits"),
        F.min(F.when(F.col("rel") > 0, F.col("apos"))).alias("first_hit"),
        F.sum(F.col("rel") * F.element_at(w_arr, F.col("apos")))
        .cast("long")
        .alias("dcg_nanos"),
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum((11 - F.col("erank")) * F.element_at(w_arr, F.col("erank")))
        .cast("long")
        .alias("idcg_nanos")
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            roundn(
                F.coalesce(F.lit(1.0) / F.col("first_hit"), F.lit(0.0)), 6
            ).alias("mrr"),
            roundn(
                F.coalesce(F.col("dcg_nanos"), F.lit(0))
                * F.lit(1.0)
                / F.col("idcg_nanos"),
                6,
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# multimodal near-dup fingerprints (r4t wave)
# ---------------------------------------------------------------------------

#: hamming radius for image near-duplicates; candidates come from
#: 8 x 8-bit bands — radius < band count, so pigeonhole makes the
#: band join a COMPLETE candidate generator (exact radius filter runs
#: inside the match)
_PHASH_RADIUS = 6


def _phash_oracle() -> str:
    """Analytic aHash: recompute every pixel from the BMP seeding rule
    (pixel-stream byte i = text[i mod len]), reproduce the 8x8
    block-mean bit grid with exact-integer scaled means, wrap to the
    signed 64-bit value with HUGEINT arithmetic, then replay the
    banding join + hamming filter — DuckDB never parses a BMP."""
    return f"""
    WITH d AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS L,
               4 + (octet_length(encode(text)) % 5) AS w,
               4 + (ascii(substr(text, 1, 1)) % 5) AS h
        FROM documents WHERE doc_id % 2 = 0),
    px AS (
        SELECT doc_id, text, L, w, h,
               i // w AS r, i % w AS c
        FROM d, UNNEST(range(0, CAST(w * h AS INT))) AS t(i)),
    g AS (
        SELECT doc_id,
               ascii(substr(text,
                   CAST((r * (w * 3) + c * 3) % L AS INT) + 1, 1))
               + ascii(substr(text,
                   CAST((r * (w * 3) + c * 3 + 1) % L AS INT) + 1, 1))
               + ascii(substr(text,
                   CAST((r * (w * 3) + c * 3 + 2) % L AS INT) + 1, 1))
                   AS gray,
               (((h - 1 - r) * 8) // h) * 8 + (c * 8) // w AS cell
        FROM px),
    cells AS (
        SELECT doc_id, cell,
               (CAST(SUM(gray) AS BIGINT) * 1000000) // COUNT(*) AS m
        FROM g GROUP BY doc_id, cell),
    grid AS (
        SELECT doc_id, CAST(SUM(m) // 64 AS BIGINT) AS gm
        FROM cells GROUP BY doc_id),
    fph AS (
        SELECT c.doc_id,
               SUM(CASE WHEN c.m > grid.gm
                        THEN CAST(power(2.0e0, c.cell) AS HUGEINT)
                        ELSE CAST(0 AS HUGEINT) END) AS fu
        FROM cells c JOIN grid USING (doc_id)
        GROUP BY c.doc_id),
    fp AS (
        SELECT doc_id,
               CAST(CASE WHEN fu >= CAST(9223372036854775808 AS HUGEINT)
                         THEN fu - CAST(18446744073709551616 AS HUGEINT)
                         ELSE fu END AS BIGINT) AS fp64
        FROM fph),
    bands AS (
        SELECT doc_id, fp64, b AS band, (fp64 >> CAST(8 * b AS INT)) & 255
                   AS bval
        FROM fp, UNNEST(range(0, 8)) AS t(b)),
    pairs AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               bit_count(xor(a.fp64, b.fp64)) AS ham
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp64, b.fp64)) <= {_PHASH_RADIUS}),
    np AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups FROM (
            SELECT d1 AS doc_id FROM pairs
            UNION ALL SELECT d2 FROM pairs)
        GROUP BY doc_id)
    SELECT fp.doc_id, fp.fp64 AS ahash64,
           CAST(COALESCE(np.n_near_dups, 0) AS BIGINT) AS n_near_dups
    FROM fp LEFT JOIN np USING (doc_id)
    ORDER BY fp.doc_id
    """


@query("multimodal_image_phash", oracle=_phash_oracle())
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tier — IMAGE near-duplicate detection by perceptual
    hash: every image payload (even doc_ids; real 24-bit BMPs) gets a
    64-bit average-hash (operators/multimodal.ahash64_bmp — grayscale
    8x8 block means, one bit per cell), candidates come from a
    8-bit-BAND equi-join (the SimHash banding discipline: with 8
    bands and radius {r} < 8, a qualifying pair's differing bits
    cannot touch all 8 bands — pigeonhole guarantees >= one agreeing
    band, so candidate generation is COMPLETE and bucketed), and the exact
    hamming <= {r} filter (bit_count(xor)) decides inside the match.
    Output: per image, its hash and the count of near-duplicate
    partners — the image-dedup rung of the dedup family (text keys
    cover exact/shingle/MinHash/SimHash; this is the same discipline
    on PIXELS).

    Upgraded rows-only → ORACLE-PAIRED (r6): payloads are BMPs
    synthesized from the text, so DuckDB recomputes the full aHash
    ANALYTICALLY from the seeding rule (pixel byte i = text[i mod
    len]) — block means, bit grid, signed-64 wrap — and replays the
    banding join + hamming filter; the hash match cross-verifies the
    real container decode against an engine that never parses a BMP.
    Banding-completeness and planted-duplicate laws stay in
    tests/test_wave_r4t.py.

    100 TB: fingerprinting is a narrow Arrow-batched pass; the
    candidate join shuffles 16-bit band keys (4 rows per image), and
    the hamming filter is JVM bit arithmetic inside the hash match —
    the LSH cost model, Σ|bucket|², never |images|²."""
    from gcp_de_data_pipeline_cc_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    fps = mm.perceptual_hashes(mm.attach_media_payload(docs)).select(
        "doc_id", "fp64"
    )
    fps = fps.localCheckpoint(eager=False)  # bands + join + output
    bands = fps.select(
        "doc_id",
        "fp64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(fp64 >> {8 * i}) & 255").alias("bval"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp64", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(
                F.col("a.fp64").bitwiseXOR(F.col("b.fp64"))
            ).alias("ham"),
        )
        .where(F.col("ham") <= _PHASH_RADIUS)
        .distinct()
    )
    npart = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_near_dups"))
    )
    return (
        fps.join(npart, "doc_id", "left")
        .select(
            "doc_id",
            # signed 64-bit value (r6 oracle-pairing upgrade: the former
            # hex rendering had engine-specific leading-zero behavior)
            F.col("fp64").alias("ahash64"),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
        )
        .orderBy("doc_id")
    )


multimodal_image_phash.__doc__ = multimodal_image_phash.__doc__.format(
    r=_PHASH_RADIUS
)


def _audio_fp_oracle() -> str:
    """Analytic energy-envelope fingerprint: WAV samples are
    (byte − 128)·256 over the UTF-8 seed, so every frame level is
    exact-integer recomputable — DuckDB never parses a RIFF chunk."""
    return """
    WITH d AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS L
        FROM documents WHERE doc_id % 2 = 1),
    s AS (
        SELECT doc_id, L, k,
               256 * ABS(ascii(substr(text, CAST(k + 1 AS INT), 1)) - 128)
                   AS a
        FROM d, UNNEST(range(0, CAST(L AS INT))) AS t(k)),
    pk AS (
        SELECT doc_id, GREATEST(CAST(MAX(a) AS BIGINT), 1) AS peak
        FROM s GROUP BY doc_id),
    fr AS (
        SELECT d.doc_id, d.L, f,
               (f * d.L) // 16 AS lo, ((f + 1) * d.L) // 16 AS hi
        FROM d, UNNEST(range(0, 16)) AS t(f)),
    lv AS (
        SELECT fr.doc_id, fr.f,
               LEAST(15, ((CAST(SUM(s.a) AS BIGINT)
                           // COUNT(*)) * 16) // pk.peak) AS level
        FROM fr
        JOIN s ON s.doc_id = fr.doc_id AND s.k >= fr.lo AND s.k < fr.hi
        JOIN pk ON pk.doc_id = fr.doc_id
        GROUP BY fr.doc_id, fr.f, pk.peak),
    fph AS (
        SELECT doc_id,
               SUM(CAST(level AS HUGEINT)
                   * CAST(power(2.0e0, 4 * f) AS HUGEINT)) AS fu
        FROM lv GROUP BY doc_id),
    fp AS (
        SELECT doc_id,
               CAST(CASE WHEN fu >= CAST(9223372036854775808 AS HUGEINT)
                         THEN fu - CAST(18446744073709551616 AS HUGEINT)
                         ELSE fu END AS BIGINT) AS fp64
        FROM fph),
    grp AS (
        SELECT fp64, CAST(COUNT(*) AS BIGINT) AS group_size
        FROM fp GROUP BY fp64)
    SELECT fp.doc_id, fp.fp64 AS audio_fp64, grp.group_size,
           grp.group_size > 1 AS is_duplicate
    FROM fp JOIN grp USING (fp64)
    ORDER BY fp.doc_id
    """


@query("multimodal_audio_fingerprint", oracle=_audio_fp_oracle())
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tier — AUDIO duplicate detection by energy-envelope
    fingerprint: every audio payload (odd doc_ids; real 16-bit PCM
    WAVs) gets a 64-bit contour of 16 frames x 4 bits peak-normalized
    mean amplitude (operators/multimodal.audio_fp64_wav), and clips
    collapse into exact-fingerprint groups — the audio rung of the
    dedup family (coarse enough to survive re-encoding, sharp enough
    to separate different clips; the image rung above handles the
    near-match radius).

    Upgraded rows-only → ORACLE-PAIRED (r6): samples are
    (byte−128)·256 over the text seed, so DuckDB recomputes every
    frame level exactly (integer peak normalization, HUGEINT bit
    assembly, signed-64 wrap) without parsing a RIFF chunk.
    Determinism and planted-duplicate laws in tests/test_wave_r4t.py.

    100 TB: narrow Arrow-batched fingerprint pass + ONE map-side-
    combinable groupBy on an 8-byte key; group sizes are the dedup
    review readout."""
    from gcp_de_data_pipeline_cc_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1
    )
    fps = mm.perceptual_hashes(mm.attach_media_payload(docs)).select(
        "doc_id", "fp64"
    )
    fps = fps.localCheckpoint(eager=False)  # group sizes + output
    grp = fps.groupBy("fp64").agg(
        F.count("*").cast("long").alias("group_size")
    )
    return (
        fps.join(grp, "fp64")
        .select(
            "doc_id",
            # signed 64-bit value (r6 oracle-pairing upgrade; hex had
            # engine-specific leading-zero rendering)
            F.col("fp64").alias("audio_fp64"),
            "group_size",
            (F.col("group_size") > 1).alias("is_duplicate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# semantic decontamination (r4w wave)
# ---------------------------------------------------------------------------

#: production contamination threshold on cosine similarity
_DECON_SEM_T = 0.8


def _decon_sem_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    b0 = sql_portable_lsh_buckets("embedding", 1, 8, 64)[0]
    return f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec, {b0} AS bucket
        FROM embeddings),
    pairs AS (
        SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
               FLOOR(list_dot_product(t.vec, e.vec)
                     / sqrt(list_dot_product(t.vec, t.vec))
                     / sqrt(list_dot_product(e.vec, e.vec))
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS cosine
        FROM v t JOIN v e
          ON t.bucket = e.bucket
         AND t.vec_id % 50 <> 0 AND e.vec_id % 50 = 0),
    nearest AS (
        SELECT train_id, eval_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY train_id
                   ORDER BY cosine DESC, eval_id) AS rn
        FROM pairs)
    SELECT train_id, eval_id AS nearest_eval_id, cosine,
           CAST(cosine >= {_DECON_SEM_T} AS INT) AS is_contaminated
    FROM nearest WHERE rn = 1
    ORDER BY cosine DESC, train_id
    LIMIT 100
    """


@query("decontaminate_semantic", oracle=_decon_sem_oracle())
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-curation — EMBEDDING-space benchmark decontamination,
    the semantic sibling of the n-gram ``decontaminate`` key: surface
    paraphrased eval contamination that exact shingle overlap cannot
    see.  Train vectors (vec_id % 50 != 0) meet the held-out eval set
    (% 50 = 0) only inside shared hyperplane buckets (the portable
    integer 8-bit LSH code — exact int64 dot signs, bit-identical in
    DuckDB); within a match the exact cosine is computed and each
    train item keeps its nearest eval neighbor.  Output = top-100
    closest train→eval pairs with the ``is_contaminated`` verdict at
    the {t} production threshold (the synthetic corpus tops out near
    0.5, so the flag column is deterministically exercised at 0 — the
    planted-duplicate path is law-tested).

    Exactness: cosine = left-fold dot products (identical fold order
    both engines) with IEEE-exact sqrt/divides, floor-quantized at
    1e-6 BEFORE the per-train rank, ties broken on eval_id.

    100 TB: candidate generation is the bucket equi-join — never
    all-pairs; the per-train argmax is WindowGroupLimit-pruned (each
    map task keeps 1 row per train id pre-shuffle); the top-100 is
    TakeOrdered.  A real eval set is bounded (benchmarks, not corpora)
    so the eval side additionally broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = sim.portable_lsh_buckets(
        emb, "vec_id", n_tables=1, bits=8, dim=64
    ).select("vec_id", "bucket")
    v = (
        sim.as_double_vectors(emb)
        .select("vec_id", F.col("embedding").alias("vec"))
        .join(codes, "vec_id")
    )
    t = v.filter(F.col("vec_id") % 50 != 0).alias("t")
    e = v.filter(F.col("vec_id") % 50 == 0).alias("e")
    cos = (
        sim._dot(F.col("t.vec"), F.col("e.vec"))
        / sim._norm(F.col("t.vec"))
        / sim._norm(F.col("e.vec"))
    )
    pairs = t.join(e, F.col("t.bucket") == F.col("e.bucket")).select(
        F.col("t.vec_id").alias("train_id"),
        F.col("e.vec_id").alias("eval_id"),
        roundn(cos, 6).alias("cosine"),
    )
    rn = F.row_number().over(
        Window.partitionBy("train_id").orderBy(F.desc("cosine"), "eval_id")
    )
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "train_id",
            F.col("eval_id").alias("nearest_eval_id"),
            "cosine",
            (F.col("cosine") >= _DECON_SEM_T).cast("int").alias(
                "is_contaminated"
            ),
        )
        .orderBy(F.desc("cosine"), "train_id")
        .limit(100)
    )


decontaminate_semantic.__doc__ = decontaminate_semantic.__doc__.format(
    t=_DECON_SEM_T
)


# ---------------------------------------------------------------------------
# embedding whitening / per-dimension standardization (r5b wave)
# ---------------------------------------------------------------------------

#: fixed embedding dimensionality (embeddings.parquet contract)
_WHITEN_DIM = 64


@query(
    "embedding_whitening",
    oracle=f"""
    WITH dims AS (SELECT UNNEST(range(1, {_WHITEN_DIM} + 1)) AS dim),
    comp AS (
        SELECT d.dim,
               CAST(FLOOR(e.embedding[d.dim] * 1000000.0e0 + 0.5e0)
                    AS BIGINT) AS q
        FROM (SELECT embedding::DOUBLE[] AS embedding FROM embeddings) e
        CROSS JOIN dims d),
    stats AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS ss
        FROM comp GROUP BY dim),
    params AS (
        SELECT dim, n, s, ss,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu_q,
               sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd_q
        FROM stats),
    white AS (
        SELECT c.dim,
               CAST(FLOOR((CAST(c.q AS DOUBLE) - p.mu_q)
                          / NULLIF(p.sd_q, 0.0e0)
                          * 1000000.0e0 + 0.5e0) AS BIGINT) AS wq
        FROM comp c JOIN params p ON p.dim = c.dim),
    audit AS (
        SELECT dim, CAST(SUM(wq) AS BIGINT) AS ws,
               CAST(SUM(wq * wq) AS BIGINT) AS wss
        FROM white GROUP BY dim)
    SELECT p.dim, p.n,
           FLOOR(p.mu_q + 0.5e0) / 1000000.0e0 AS mean,
           FLOOR(p.sd_q + 0.5e0) / 1000000.0e0 AS std,
           FLOOR(CAST(a.ws AS DOUBLE) / CAST(p.n AS DOUBLE)
                 + 0.5e0) / 1000000.0e0 AS post_mean,
           FLOOR(sqrt((CAST(a.wss AS DOUBLE)
                       - CAST(a.ws AS DOUBLE) * CAST(a.ws AS DOUBLE)
                         / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))
                 + 0.5e0) / 1000000.0e0 AS post_std
    FROM params p JOIN audit a ON a.dim = p.dim
    ORDER BY p.dim
    """,
)
def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene, third rung (normalize audits row norms, quantize
    audits value ranges; this standardizes the FEATURE AXES) —
    per-dimension whitening of the embedding table: fit μ_d/σ_d per
    dimension, re-apply them in-engine, and AUDIT the applied result
    (post-whitening mean ≈ 0, std ≈ 1 per dimension) — the
    preprocessing step before PCA/IVF training where anisotropic axes
    dominate distance.

    Exactness: components are floor-quantized to integer 1e-6 units on
    ingest, so per-dim (n, Σq, Σq²) are exact int64 no matter the
    partitioning; μ/σ are fixed scalar trees; the whitened values are
    RE-quantized to integer units before the audit sums, keeping the
    second pass order-free too.

    100 TB: two map-side-combined aggregates at dimension grain (the
    state is |dims| rows); the parameter join back is a broadcast of a
    {d}-row table; no shuffle ever carries vector-count rows."""
    emb = sim.as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        F.posexplode("embedding").alias("dim0", "x")
    ).select(
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    comp = comp.localCheckpoint(eager=False)  # fit + apply consumers
    stats = comp.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    params = stats.select(
        "dim",
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("mu_q"),
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("sd_q"),
    )
    white = comp.join(F.broadcast(params), "dim").select(
        "dim",
        F.floor(
            (F.col("q").cast("double") - F.col("mu_q"))
            / F.nullif(F.col("sd_q"), F.lit(0.0))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("wq"),
    )
    audit = white.groupBy("dim").agg(
        F.sum("wq").cast("long").alias("ws"),
        F.sum(F.col("wq") * F.col("wq")).cast("long").alias("wss"),
    )
    return (
        params.join(audit, "dim")
        .select(
            "dim",
            "n",
            (F.floor(F.col("mu_q") + F.lit(0.5)) / F.lit(1000000.0)).alias(
                "mean"
            ),
            (F.floor(F.col("sd_q") + F.lit(0.5)) / F.lit(1000000.0)).alias(
                "std"
            ),
            (
                F.floor(
                    F.col("ws").cast("double") / F.col("n").cast("double")
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("post_mean"),
            (
                F.floor(
                    F.sqrt(
                        (
                            F.col("wss").cast("double")
                            - F.col("ws").cast("double")
                            * F.col("ws").cast("double")
                            / F.col("n").cast("double")
                        )
                        / F.col("n").cast("double")
                    )
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("post_std"),
        )
        .orderBy("dim")
    )


embedding_whitening.__doc__ = embedding_whitening.__doc__.format(
    d=_WHITEN_DIM
)


# ---------------------------------------------------------------------------
# matryoshka prefix-dimension retrieval eval (r5l wave)
# ---------------------------------------------------------------------------

#: prefix widths evaluated against the full 64-dim exact ranking
_MRL_DIMS = (16, 32)


def _prefix_dims_oracle() -> str:
    per_dim = []
    for d in _MRL_DIMS:
        per_dim.append(f"""
    pre{d} AS (
        SELECT query_id, nid FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.vec[1:{d}], c.vec[1:{d}])
                                / sqrt(list_dot_product(q.vec[1:{d}],
                                                        q.vec[1:{d}]))
                                / sqrt(list_dot_product(c.vec[1:{d}],
                                                        c.vec[1:{d}])) DESC,
                                c.vec_id) AS rnk
            FROM q JOIN c ON c.vec_id <> q.vec_id)
        WHERE rnk <= 10),
    hit{d} AS (
        SELECT e.query_id,
               CAST(COUNT(p.nid) AS BIGINT) AS n_hit,
               CAST(MIN(CASE WHEN p.nid IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS _dummy
        FROM ex e LEFT JOIN pre{d} p
          ON p.query_id = e.query_id AND p.nid = e.nid
        GROUP BY e.query_id),
    agg{d} AS (
        SELECT CAST({d} AS INT) AS prefix_dim,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(n_hit) AS BIGINT) AS total_hits,
               CAST(MIN(n_hit) AS BIGINT) AS worst_hits
        FROM hit{d})""")
    unions = " UNION ALL ".join(f"SELECT * FROM agg{d}" for d in _MRL_DIMS)
    return f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    qsamp AS ({sim.sql_query_sample_cte()}),
    q AS (SELECT * FROM v WHERE vec_id IN (SELECT vec_id FROM qsamp)),
    c AS (SELECT * FROM v),
    ex AS (
        SELECT query_id, nid FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.vec, c.vec)
                                / sqrt(list_dot_product(q.vec, q.vec))
                                / sqrt(list_dot_product(c.vec, c.vec)) DESC,
                                c.vec_id) AS rnk
            FROM q JOIN c ON c.vec_id <> q.vec_id)
        WHERE rnk <= 10),{",".join(per_dim)}
    SELECT prefix_dim, n_queries, total_hits,
           FLOOR(total_hits * 1.0e0 / (10 * n_queries)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS recall_at_10,
           FLOOR(worst_hits * 1.0e0 / 10.0e0
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS worst_query_recall
    FROM ({unions})
    ORDER BY prefix_dim
    """


@query("embedding_prefix_dims_eval", oracle=_prefix_dims_oracle())
def embedding_prefix_dims_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity tier, ADAPTIVE-DIMENSION rung — the Matryoshka
    evaluation (Kusupati et al. 2022: prefixes of an embedding are
    themselves usable embeddings; serving stacks retrieve with a short
    prefix and rerank with the full vector): recall@10 of the
    {dims}-dim PREFIX cosine rankings against the exact 64-dim top-10,
    per-query hits aggregated to mean and worst-query recall — the
    evidence table for choosing the serving prefix width (the
    quantization sibling is ``embedding_quantize_eval``: bytes-per-dim
    there, dims-per-vector here).

    Exactness: all cosines are identical left-fold dot products both
    engines; rankings tie-break on the neighbor id; recalls are exact
    integer hit counts with single quantized divisions.

    100 TB: the query side is the sampled bounded set (broadcast); the
    candidate pass is rank-per-query WindowGroupLimited; at scale the
    prefix ranking IS the cheap first stage (a d-dim scan costs d/64
    of the full GEMM) and this eval prices that saving in recall."""
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        _dot,
        _norm,
        as_double_vectors,
    )

    emb = as_double_vectors(load_table(spark, sf_dir, "embeddings"))
    # fan_out: the broadcast pair join inherits the scan's 1-3 splits,
    # so without it every per-pair cosine fold (5 rankings × |Q|·n
    # pairs) runs on one core.  Per-SIDE prefix norms are hoisted out
    # of the pair join: the fold value is the identical expression over
    # the identical slice, evaluated once per row instead of per pair —
    # the division consumes bit-identical operands.
    widths = [*_MRL_DIMS, 64]

    def with_norms(df, vec_name):
        for d in widths:
            df = df.withColumn(
                f"__n{d}", _norm(F.slice(F.col(vec_name), 1, d))
            )
        return df

    v = with_norms(
        fan_out(emb.select("vec_id", F.col("embedding").alias("vec"))),
        "vec",
    )
    v = v.localCheckpoint(eager=False)  # all rankings
    q = sim.sample_queries(v).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qv"),
        *[F.col(f"__n{d}").alias(f"__qn{d}") for d in widths],
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    pairs = pairs.localCheckpoint(eager=False)  # one pass per ranking
    wq = Window.partitionBy("query_id")

    def top10(score_col):
        return (
            pairs.select(
                "query_id", F.col("vec_id").alias("nid"), score_col.alias("sc")
            )
            .withColumn(
                "rnk",
                F.row_number().over(wq.orderBy(F.desc("sc"), F.asc("nid"))),
            )
            .filter(F.col("rnk") <= 10)
            .select("query_id", "nid")
        )

    full_sc = (
        _dot(F.col("qv"), F.col("vec")) / F.col("__qn64") / F.col("__n64")
    )
    ex = top10(full_sc)
    ex = ex.localCheckpoint(eager=False)  # one join per prefix width
    out = None
    for d in _MRL_DIMS:
        qp, cp = F.slice(F.col("qv"), 1, d), F.slice(F.col("vec"), 1, d)
        sc = _dot(qp, cp) / F.col(f"__qn{d}") / F.col(f"__n{d}")
        pre = top10(sc)
        hit = (
            ex.alias("e")
            .join(
                pre.alias("p"),
                (F.col("p.query_id") == F.col("e.query_id"))
                & (F.col("p.nid") == F.col("e.nid")),
                "left",
            )
            .groupBy(F.col("e.query_id").alias("query_id"))
            .agg(F.count(F.col("p.nid")).cast("long").alias("n_hit"))
        )
        agg = hit.agg(
            F.lit(d).cast("int").alias("prefix_dim"),
            F.count("*").cast("long").alias("n_queries"),
            F.sum("n_hit").cast("long").alias("total_hits"),
            F.min("n_hit").cast("long").alias("worst_hits"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.select(
        "prefix_dim",
        "n_queries",
        "total_hits",
        roundn(
            F.col("total_hits")
            * F.lit(1.0)
            / (F.lit(10.0) * F.col("n_queries").cast("double")),
            6,
        ).alias("recall_at_10"),
        roundn(F.col("worst_hits") * F.lit(1.0) / F.lit(10.0), 6).alias(
            "worst_query_recall"
        ),
    ).orderBy("prefix_dim")


embedding_prefix_dims_eval.__doc__ = embedding_prefix_dims_eval.__doc__.format(
    dims="/".join(str(d) for d in _MRL_DIMS)
)


# ---------------------------------------------------------------------------
# dedup_incremental — incoming-batch dedup against a standing index
# ---------------------------------------------------------------------------

#: ~70/30 split: docs whose salted md5 byte < 0xb3 are ALREADY INDEXED;
#: the rest are the incoming batch
_INC_COIN_SQL = (
    "SUBSTR(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'b3'"
)

#: an incoming doc is a near-dup if >= 80% of its shingles appear in
#: some single indexed doc (containment, the asymmetric measure — the
#: right one against an index: the INDEX side's size is irrelevant)
_INC_NEAR_PPM = 800_000


@query(
    "dedup_incremental",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, text, {_INC_COIN_SQL} AS indexed
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, indexed, UNNEST({tx.SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, indexed, string_split(text, ' ') AS t
              FROM tagged)
        WHERE len(t) >= 3),
    cnt_inc AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh
        WHERE NOT indexed GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS inc_id, b.doc_id AS idx_id,
               COUNT(*) AS n_both
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND NOT a.indexed AND b.indexed
        GROUP BY 1, 2),
    best AS (
        SELECT i.inc_id,
               MAX((i.n_both * 1000000) // c.n_sh) AS best_ppm
        FROM inter i JOIN cnt_inc c ON c.doc_id = i.inc_id
        GROUP BY i.inc_id),
    exact AS (
        SELECT DISTINCT t.doc_id
        FROM tagged t
        WHERE NOT t.indexed AND t.text IN
              (SELECT text FROM tagged WHERE indexed)),
    verdicts AS (
        SELECT t.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN COALESCE(b.best_ppm, 0) >= {_INC_NEAR_PPM}
                    THEN 'near_dup'
                    ELSE 'new' END AS verdict,
               CAST(COALESCE(b.best_ppm, 0) AS BIGINT) AS best_ppm
        FROM tagged t
        LEFT JOIN exact e ON e.doc_id = t.doc_id
        LEFT JOIN best b ON b.inc_id = t.doc_id
        WHERE NOT t.indexed),
    tot AS (SELECT COUNT(*) AS n_inc FROM verdicts)
    SELECT v.verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(COUNT(*) AS DOUBLE) / t.n_inc * 1000000.0e0
                 + 0.5e0) / 1000000.0e0 AS share,
           CAST(SUM(v.best_ppm) // COUNT(*) AS BIGINT)
               AS mean_best_containment_ppm
    FROM verdicts v, tot t
    GROUP BY v.verdict, t.n_inc
    ORDER BY v.verdict
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-extension — INCREMENTAL dedup, the form a 100 TB pipeline
    actually runs: every other dedup key deduplicates one static
    corpus against itself; in production, TODAY'S batch deduplicates
    against the STANDING INDEX of everything already accepted.  A
    deterministic 70/30 coin splits the corpus into index vs incoming;
    each incoming doc gets a three-way verdict — ``exact_dup``
    (content equality against the index), ``near_dup`` (shingle
    CONTAINMENT ≥ 80% in some single indexed doc — the asymmetric
    measure, correct against an index where the indexed side's length
    must not dilute the score), or ``new`` — rolled up with shares and
    the mean best-containment evidence.

    Exactness: containment quantizes to integer ppm per (incoming,
    indexed) pair via one integer DIV before the MAX; shares quantize
    once at projection; everything else is counts.

    100 TB: the cross join never appears — candidates come from the
    shingle-hash equi-join (Σ|bucket|² bounded), exact dups from one
    semi-join on the content hash; at production scale the index side
    is a pre-materialized (shingle → doc) posting table
    (`inverted_index`) so only the incoming batch is ever re-shingled
    — the plan here re-derives it inline because the registry key must
    be self-contained.

    Reference parity: the reference's ingest sensor admits NEW files
    into a standing lake (dags/pipeline_orchestration_dag.py:64-95);
    this is that admission decision at document granularity.
    """
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        "text",
        (
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("inc:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                2,
            )
            < "b3"
        ).alias("indexed"),
    )
    tagged = tagged.localCheckpoint(eager=False)  # shingle + exact uses
    toks = tagged.select(
        "doc_id", "indexed", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        "indexed",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))"
            )
        ).alias("shingle"),
    ).distinct()
    sh = sh.localCheckpoint(eager=False)  # both join sides + counts
    cnt_inc = sh.where(~F.col("indexed")).groupBy("doc_id").agg(
        F.count("*").alias("n_sh")
    )
    inter = (
        sh.where(~F.col("indexed"))
        .select(F.col("doc_id").alias("inc_id"), "shingle")
        .join(
            sh.where(F.col("indexed")).select(
                F.col("doc_id").alias("idx_id"), "shingle"
            ),
            "shingle",
        )
        .groupBy("inc_id", "idx_id")
        .agg(F.count("*").alias("n_both"))
    )
    best = (
        inter.join(
            cnt_inc.withColumnRenamed("doc_id", "inc_id"), "inc_id"
        )
        .groupBy("inc_id")
        .agg(
            F.max(
                F.expr("(n_both * 1000000) DIV n_sh")
            ).alias("best_ppm")
        )
    )
    idx_text = tagged.where(F.col("indexed")).select("text").distinct()
    exact = (
        tagged.where(~F.col("indexed"))
        .join(idx_text, "text", "left_semi")
        .select("doc_id")
    )
    verdicts = (
        tagged.where(~F.col("indexed"))
        .select("doc_id")
        .join(
            exact.withColumn("is_exact", F.lit(True)), "doc_id", "left"
        )
        .join(
            best.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(
                F.coalesce("best_ppm", F.lit(0)) >= _INC_NEAR_PPM,
                "near_dup",
            )
            .otherwise("new")
            .alias("verdict"),
            F.coalesce("best_ppm", F.lit(0))
            .cast("long")
            .alias("best_ppm"),
        )
    )
    verdicts = verdicts.localCheckpoint(eager=False)  # rollup + total
    tot = verdicts.agg(F.count("*").alias("n_inc"))
    return (
        verdicts.groupBy("verdict")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr(
                "CAST(SUM(best_ppm) DIV COUNT(*) AS BIGINT)"
            ).alias("mean_best_containment_ppm"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "verdict",
            "n_docs",
            (
                F.floor(
                    F.col("n_docs").cast("double")
                    / F.col("n_inc").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("share"),
            "mean_best_containment_ppm",
        )
        .orderBy("verdict")
    )


# ---------------------------------------------------------------------------
# embedding_pq_codebook — product quantization (the ANN compression)
# ---------------------------------------------------------------------------

#: 64 dims -> 8 subspaces x 8 dims, 4 centroids each (2 bits/subspace:
#: a 64-float vector compresses to 2 bytes — the PQ value proposition)
_PQ_M_DIMS = 8
_PQ_K = 4


def _pq_flat(emb: DataFrame) -> DataFrame:
    """(vec_id, d, q, m, c0): micro-unit-quantized components with their
    subspace id and deterministic md5 seed assignment over the
    _PQ_K-centroid codebook — the first stage of embedding_pq_codebook.
    The PQ-ADC search quantizes and seeds the same way on the driver
    (_pq_quantize, _pq_trained)."""
    return (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("d"),
            F.floor(
                F.col("x").cast("double") * F.lit(1000000.0) + F.lit(0.5)
            )
            .cast("long")
            .alias("q"),
            (F.col("pos") / _PQ_M_DIMS).cast("long").alias("m"),
        )
        .select(
            "*",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("vec_id").cast("string"),
                                F.lit(":"),
                                F.col("m").cast("string"),
                            )
                        ),
                        1,
                        2,
                    ),
                    16,
                    10,
                ).cast("long")
                % _PQ_K
            ).alias("c0"),
        )
    )


def _pq_flat_sql(k: int) -> str:
    """The oracle twin of :func:`_pq_flat`: the ``ex`` and ``flat`` CTEs
    (vec_id, d, q, m, c0) over ``embeddings``."""
    return f"""ex AS (
        SELECT vec_id,
               UNNEST(list_transform(range(1, len(embedding) + 1),
                   i -> struct_pack(d := i,
                        q := CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                                        * 1000000.0e0 + 0.5e0)
                                  AS BIGINT)))) AS u
        FROM embeddings),
    flat AS (
        SELECT vec_id, CAST(u.d AS BIGINT) AS d, u.q AS q,
               CAST((u.d - 1) // {_PQ_M_DIMS} AS BIGINT) AS m,
               CAST(CAST('0x' || SUBSTR(md5(CAST(vec_id AS VARCHAR)
                         || ':' || CAST((u.d - 1) // {_PQ_M_DIMS}
                                        AS VARCHAR)), 1, 2) AS BIGINT)
                    % {k} AS BIGINT) AS c0
        FROM ex)"""


def _pq_centroids(flat: DataFrame) -> DataFrame:
    """(m, k, d, cq): the per-subspace codebook — component means of the
    seed assignment, double-floored identically on both engines."""
    return flat.groupBy("m", F.col("c0").alias("k"), "d").agg(
        F.floor(F.sum("q").cast("double") / F.count("*"))
        .cast("long")
        .alias("cq")
    )


@query(
    "embedding_pq_codebook",
    oracle=f"""
    WITH {_pq_flat_sql(_PQ_K)},
    cent AS (
        SELECT m, c0 AS k, d,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS cq
        FROM flat GROUP BY 1, 2, 3),
    dist AS (
        SELECT f.vec_id, f.m, c.k, f.c0,
               CAST(SUM((f.q - c.cq) * (f.q - c.cq)) AS BIGINT) AS dd
        FROM flat f JOIN cent c ON c.m = f.m AND c.d = f.d
        GROUP BY 1, 2, 3, 4),
    dmin AS (
        SELECT vec_id, m, MIN(dd) AS dmin FROM dist GROUP BY 1, 2),
    pick AS (
        SELECT d.vec_id, d.m, g.dmin,
               CAST(MIN(d.k) AS BIGINT) AS k_assigned
        FROM dist d JOIN dmin g
          ON g.vec_id = d.vec_id AND g.m = d.m AND d.dd = g.dmin
        GROUP BY 1, 2, 3),
    init AS (
        SELECT vec_id, m, dd AS d_init FROM dist WHERE k = c0)
    SELECT p.m AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(i.d_init) AS BIGINT) AS sse_init,
           CAST(SUM(p.dmin) AS BIGINT) AS sse_assigned,
           SUM(p.dmin) <= SUM(i.d_init) AS improved,
           CAST(COUNT(DISTINCT p.k_assigned) AS BIGINT)
               AS n_used_centroids
    FROM pick p
    JOIN init i ON i.vec_id = p.vec_id AND i.m = p.m
    GROUP BY p.m
    ORDER BY p.m
    """,
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity tier — PRODUCT QUANTIZATION (Jégou et al. 2011), the
    compression behind every billion-scale ANN index: split the 64-dim
    vectors into {m}-dim subspaces, learn a {k}-centroid codebook per
    subspace (centroids = means over a deterministic md5 seeding —
    exactly one Lloyd's refinement: seed → means → nearest
    reassignment), and report per subspace the init-vs-assigned SSE
    (``improved`` is a PROVABLE invariant: assigning each vector to
    its nearest centroid can never raise SSE above the seed
    assignment — the descent property of the k-means E-step) and the
    codebook usage.  A 64-float vector compresses to 2 bits/subspace =
    2 bytes; `embedding_quantize`/`embedding_quantize_eval` cover the
    scalar-int8 rung, this key the codebook rung of the same ladder.

    Exactness: dims quantize to integer micro-units at the scan;
    distances are exact int64 sums of squared integer diffs; centroid
    means floor identically on both engines (double-floor, not DIV —
    Spark DIV truncates toward zero on negatives while DuckDB //
    floors, and embeddings are signed); argmin ties break on centroid
    id via the min-over-equal-dmin form.

    100 TB: the expansion is a narrow positional explode (64 rows per
    vector, map-side); the codebook is a 256-row broadcast; distances
    partial-aggregate per (vec, subspace, centroid) before the only
    wide exchange.  At serving scale the search keys score the codes
    with :func:`_pq_search`'s fused Arrow scan: per partition, an ADC
    table gather-sum per query, with no join against the codes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = _pq_flat(emb)
    flat = flat.localCheckpoint(eager=False)  # codebook + distance uses
    cent = _pq_centroids(flat)
    dist = (
        flat.join(F.broadcast(cent), ["m", "d"])
        .groupBy("vec_id", "m", "k", "c0")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            )
            .cast("long")
            .alias("dd")
        )
    )
    dist = dist.localCheckpoint(eager=False)  # min + init + pick uses
    dmin = dist.groupBy("vec_id", "m").agg(F.min("dd").alias("dmin"))
    pick = (
        dist.join(dmin, ["vec_id", "m"])
        .where(F.col("dd") == F.col("dmin"))
        .groupBy("vec_id", "m", "dmin")
        .agg(F.min("k").cast("long").alias("k_assigned"))
    )
    init = dist.where(F.col("k") == F.col("c0")).select(
        "vec_id", "m", F.col("dd").alias("d_init")
    )
    return (
        pick.join(init, ["vec_id", "m"])
        .groupBy(F.col("m").alias("subspace"))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("d_init").cast("long").alias("sse_init"),
            F.sum("dmin").cast("long").alias("sse_assigned"),
            (F.sum("dmin") <= F.sum("d_init")).alias("improved"),
            F.countDistinct("k_assigned")
            .cast("long")
            .alias("n_used_centroids"),
        )
        .orderBy("subspace")
    )


embedding_pq_codebook.__doc__ = embedding_pq_codebook.__doc__.format(
    m=_PQ_M_DIMS, k=_PQ_K
)


# ---------------------------------------------------------------------------
# sim_topk_pq — ADC search over the PQ codes (r5c wave)
# ---------------------------------------------------------------------------

#: the SEARCH operating point: 64 centroids/subspace (6-bit codes, a
#: 64-float vector serves from 6 bytes — 42x smaller) with 3 unrolled
#: Lloyd iterations.  The codebook key's K=4 is the compression-math
#: exhibit; measured recall@10 on the near-unclustered fixture vectors:
#: K=16/1-iter 0.26, K=64/3-iter 0.41.  Tests pin the structural law
#: instead: PQ cannot rank WITHIN a tight cluster (Voronoi-cell
#: blindness — all mates share a code) but must SEPARATE clusters
#: (recall >= 0.9 on planted 10-clusters)
_PQ_SEARCH_K = 64
_PQ_SEARCH_ITERS = 3
#: fixed-size Lloyd TRAINING stratum (hash-rank sample, the faiss
#: production pattern): the driver trains on ≤512 collected vectors, so
#: training cost is O(D·K·iters) regardless of corpus size; each key's
#: fused search scan (_pq_search) is the only corpus-proportional
#: stage.  512 ≥ the sf0.01 corpus, so small-SF results are
#: bit-identical to full-corpus training.  The stratum's first Q rows
#: are the query sample (same hash, same tie-break), so Q ≤ 512.
_PQ_TRAIN_D = 512
assert sim.QUERY_SAMPLE_Q <= _PQ_TRAIN_D


def _pq_lloyd_sql(iters: int) -> str:
    """The unrolled Lloyd chain as oracle CTEs: training runs on the
    fixed-size hash-rank STRATUM (the faiss production pattern — the
    X348 fixed-Q discipline applied to TRAINING: Lloyd cost is
    O(stratum · K · iters), corpus-independent); it0 = the md5 seed
    assignment over the stratum; iteration i recomputes centroids c{i}
    from it{i-1} and reassigns the stratum (d{i}/g{i}/a{i}/it{i});
    the LAST reassignment (d{iters}/a{iters}) runs over the FULL
    corpus — one linear encode pass against the final codebook.
    Mirrors _pq_trained (the driver-side Lloyd chain over
    _pq_stratum) + _pq_encoder exactly."""
    parts = [
        f"""ts AS (
        SELECT vec_id FROM embeddings
        ORDER BY (vec_id * {sim._QS_MULT}) % {sim._QS_MOD}, vec_id
        LIMIT {_PQ_TRAIN_D}),
    strat AS MATERIALIZED (
        SELECT * FROM flat WHERE vec_id IN (SELECT vec_id FROM ts)),
    it0 AS (SELECT vec_id, m, d, q, c0 AS k FROM strat)"""
    ]
    for i in range(1, iters + 1):
        src = "flat" if i == iters else "strat"
        parts.append(f"""
    c{i} AS (
        SELECT m, k, d,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS cq
        FROM it{i - 1} GROUP BY 1, 2, 3),
    d{i} AS (
        SELECT f.vec_id, f.m, c.k,
               CAST(SUM((f.q - c.cq) * (f.q - c.cq)) AS BIGINT) AS dd
        FROM {src} f JOIN c{i} c ON c.m = f.m AND c.d = f.d
        GROUP BY 1, 2, 3),
    g{i} AS (SELECT vec_id, m, MIN(dd) AS dmin FROM d{i} GROUP BY 1, 2),
    a{i} AS (
        SELECT d.vec_id, d.m, CAST(MIN(d.k) AS BIGINT) AS k_code
        FROM d{i} d JOIN g{i} g
          ON g.vec_id = d.vec_id AND g.m = d.m AND d.dd = g.dmin
        GROUP BY 1, 2),
    it{i} AS (
        SELECT f.vec_id, f.m, f.d, f.q, a.k_code AS k
        FROM strat f JOIN a{i} a ON a.vec_id = f.vec_id AND a.m = f.m)""")
    return ",".join(parts)


def _sim_pq_oracle() -> str:
    it = _PQ_SEARCH_ITERS
    return f"""
    WITH {_PQ_LUT_SQL},
    adc AS (
        SELECT l.query_id, cd.vec_id AS neighbor_id,
               CAST(SUM(l.l) AS BIGINT) AS ad
        FROM a{it} cd JOIN lut l ON l.m = cd.m AND l.k = cd.k_code
        WHERE cd.vec_id <> l.query_id
        GROUP BY 1, 2),
    adc_top AS ({_pq_top_sql("adc", "ad")}),
    {_PQ_VECS_SQL},
    {_PQ_EXACT_SQL},
    hits AS (
        SELECT e.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top e JOIN adc_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


#: session-shared (catalog.shared): the training stratum behind the
#: K=64 codebook, and the query index built on it, serve sim_topk_pq,
#: sim_topk_ivfpq and sim_topk_pq_rerank — the collect, training and
#: the LUT build run once per session and warehouse; each key then runs
#: its own fused search scan
@shared
def _pq_stratum(spark: SparkSession, sf_dir: str):
    """(ids, x): the fixed-D hash-rank TRAINING STRATUM, from one
    bounded collect of ≤ _PQ_TRAIN_D vectors in hash-rank order — ids and
    their micro-unit vectors (n x dims int64, quantized as _pq_flat
    does).  Its first Q rows are the query sample.  Null or ragged
    vectors and components of magnitude ≥ 268 raise."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = collect_bounded(
        emb.select("vec_id", "embedding")
        .orderBy(*sim.hash_rank("vec_id"))
        .limit(_PQ_TRAIN_D),
        _PQ_TRAIN_D,
        "PQ training stratum",
    )
    vecs = pd.Series([r.embedding for r in rows], dtype=object)
    dims = int(vecs.str.len().max()) if len(rows) else 0
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    return ids, _pq_quantize(vecs, dims)


def _pq_trained(spark: SparkSession, sf_dir: str) -> pd.DataFrame:
    """The search codebook (m, k, d, cq), trained on the driver from
    :func:`_pq_stratum`: per _PQ_M_DIMS-dim subspace m, the md5 seed
    assignment int(md5('vec_id:m')[:2], 16) % K, then (centroids ->
    reassign) x iters on the dense stratum matrix (_pq_lloyd) — the
    faiss production pattern, corpus-independent training cost."""
    ids, x = _pq_stratum(spark, sf_dir)
    books = []
    for m, lo in enumerate(range(0, x.shape[1], _PQ_M_DIMS)):
        cols = np.arange(lo, min(lo + _PQ_M_DIMS, x.shape[1]))
        seed = np.array(
            [int(hashlib.md5(f"{v}:{m}".encode()).hexdigest()[:2], 16)
             for v in ids],
            dtype=np.int64,
        ) % _PQ_SEARCH_K
        ks, cent = _pq_lloyd(x[:, cols], seed, _PQ_SEARCH_ITERS)
        books.append(pd.DataFrame({
            "m": np.int64(m),
            "k": np.repeat(ks, len(cols)),
            "d": np.tile(cols + 1, len(ks)).astype(np.int64),
            "cq": cent.ravel(),
        }))
    return pd.concat(books, ignore_index=True)


@shared
def _pq_index(spark: SparkSession, sf_dir: str):
    """(qids, qv, lut, encode): the driver-side search state, bounded by
    config only — the fixed-Q query sample's ids (ascending) and
    micro-unit vectors (Q x D int64), the |Q| x M x K ADC lookup table
    (lut[q, j, k] = exact int64 squared L2 between query q's j-th
    subspace and centroid k), and the codebook's encoder.  The query
    sample is the stratum's first Q rows: no Spark job of its own."""
    ids, x = _pq_stratum(spark, sf_dir)
    book = _pq_trained(spark, sf_dir)
    order = np.argsort(ids[:sim.QUERY_SAMPLE_Q])
    qids, qv = ids[order], x[order]
    books = _pq_books(book)
    lut = np.zeros((len(qids), len(books), int(book.k.max()) + 1), np.int64)
    for j, (ks, cols, c) in enumerate(books):
        diff = qv[:, None, cols] - c[None, :, :]
        lut[:, j, ks] = (diff * diff).sum(axis=2)
    return qids, qv, lut, _pq_encoder(book)


def _pq_nearest(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Row index of each vector's nearest centroid: exact int64 squared
    L2, ties to the lowest row (argmin keeps the first minimum)."""
    diff = x[:, None, :] - cent[None, :, :]
    return (diff * diff).sum(axis=2).argmin(axis=1)


def _pq_lloyd(
    x: np.ndarray, label: np.ndarray, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """One subspace's Lloyd chain on its n x dims stratum matrix ``x``
    from the seed codes ``label``: centroids are floor(double(sum q) /
    count) over the non-empty clusters only (an empty cluster drops out
    of the codebook, as it does from the oracle's GROUP BY),
    reassignment is exact int64 squared L2 with ties to the smallest k.
    Returns the codes and centroid matrix after ``iters`` centroid
    steps."""
    for i in range(iters):
        ks, inv = np.unique(label, return_inverse=True)
        sums = np.zeros((len(ks), x.shape[1]), dtype=np.int64)
        np.add.at(sums, inv, x)
        cent = np.floor(sums / np.bincount(inv)[:, None]).astype(np.int64)
        if i < iters - 1:
            label = ks[_pq_nearest(x, cent)]
    return ks, cent


def _pq_books(cent: pd.DataFrame) -> list:
    """The codebook ``cent`` (m, k, d, cq) as one dense block per
    subspace in m order: (codes k, 0-based dimension columns, K_m x
    dims centroid matrix)."""
    books = []
    for _, g in cent.groupby("m"):
        w = g.pivot(index="k", columns="d", values="cq")
        books.append(
            (w.index.to_numpy(), w.columns.to_numpy() - 1, w.to_numpy())
        )
    return books


def _pq_quantize(emb: pd.Series, dims: int) -> np.ndarray:
    """A pandas column of ``dims``-dim vectors as n x dims micro-unit
    int64, quantized exactly as _pq_flat does; null or ragged vectors
    and components of magnitude ≥ 268 raise."""
    if emb.str.len().ne(dims).any():
        raise ValueError(
            f"PQ encode: every embedding must be a non-null"
            f" {dims}-dim vector (null or ragged input)"
        )
    xf = np.stack(emb.to_numpy()).astype(np.float64)
    # |q| < 2^28 micro-units keeps every 8-dim squared distance
    # below 2^61: numpy int64 would wrap silently past 2^63
    if not (np.abs(xf) < 268.0).all():
        raise ValueError(
            "PQ encode: embedding components must be non-null"
            " and below 268 in magnitude"
        )
    return np.floor(xf * 1000000.0 + 0.5).astype(np.int64)


def _pq_encoder(cent: pd.DataFrame):
    """encode(embedding) -> (x, codes) against the codebook ``cent``:
    quantize a pandas column of vectors (_pq_quantize; x, n x D) and
    code every subspace to its nearest centroid (codes, n x M, column
    j = the j-th subspace in m order).  The one encode path: the search
    scan and the codebook tests go through it."""
    books = _pq_books(cent)
    dims = int(cent.d.max()) if len(cent) else 0

    def encode(emb: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        x = _pq_quantize(emb, dims)
        codes = np.stack(
            [ks[_pq_nearest(x[:, cols], c)] for ks, cols, c in books], axis=1
        )
        return x, codes

    return encode


#: candidate rows scored per step of the search scan: bounds the
#: Q x block x D exact-L2 temporaries (8 MB at Q = 64, D = 64)
_PQ_SCAN_BLOCK = 256
#: |q| < 1.89e8 micro-units keeps every 64-dim squared distance
#: (64 * (2|q|)^2) below 2^63: numpy int64 would wrap silently where
#: Spark's ANSI arithmetic raised
_PQ_L2_MAX = 189_000_000
_PQ_FAR = np.iinfo(np.int64).max
_PQ_HIT_SCHEMA = "query_id long, vec_id long, ad long, dd long, exact boolean"


def _row_topk(k: int, key: np.ndarray, ids: np.ndarray, *more: np.ndarray):
    """Per row of Q x n arrays, the k entries smallest by (key, id),
    with the aligned arrays ``more`` carried along."""
    order = np.lexsort((ids, key), axis=1)[:, :k]
    return [np.take_along_axis(a, order, axis=1) for a in (key, ids, *more)]


def _pq_search(
    emb: DataFrame,
    index,
    *,
    pool: int,
    rerank: bool = False,
    cells: dict | None = None,
) -> DataFrame:
    """Per-query recall@10 of PQ-ADC search against the exact integer-L2
    top-10 (query_id, k, n_exact, n_hit, recall), from ONE fused scan of
    ``emb`` and ONE per-query merge.

    Scan (mapInPandas, no exchange): each partition encodes its own
    vectors in blocks of {b} (_pq_encoder), scores every candidate
    against the Q queries of ``index`` twice — ADC as a LUT gather-sum
    and exact int64 squared L2 — and keeps per query the best ``pool``
    by (ADC, vec_id), carrying the exact distance, and the best 10 by
    (exact, vec_id); the query itself never counts, and with ``cells``
    (query_id -> probed IVF labels) the ADC arm keeps only candidates
    in the query's probed cells.  A partition emits at most
    Q·(pool + 10) rows.

    Merge (one native groupBy query_id): the per-partition top lists
    of a total order contain the global ones, so the merge is exact.
    Each query sorts its collected (exact, vec_id) and (ADC, vec_id,
    exact) structs and slices the top 10 and the global ADC pool; the
    approximate top-10 is the pool's first 10, or with ``rerank`` the
    pool re-sorted by (exact, vec_id); hits are the size of the two
    id lists' intersection, and the recall rounds with roundn:
    floor(n_hit / n_exact · 10000 + 0.5) / 10000.  No Python stage
    feeds the output's global sort.

    Both arms read every vector once, in this key's own scan: the
    exact arm is the recall evidence and is O(corpus · Q · D) by
    design, so the scan derives the ADC arm from the same read instead
    of joining codes against a shared exact relation.  Input contract:
    null or ragged vectors and components of magnitude ≥ 189 raise."""
    qids, qv, lut, encode = index
    subspaces = np.arange(lut.shape[1])
    allowed = None if cells is None else [cells.get(q, []) for q in qids]

    def scan(batches):
        none = np.empty((len(qids), 0), np.int64)
        pool_ad = pool_id = pool_dd = top_dd = top_id = top_ad = none
        for pdf in batches:
            for s in range(0, len(pdf), _PQ_SCAN_BLOCK):
                blk = pdf.iloc[s:s + _PQ_SCAN_BLOCK]
                x, codes = encode(blk["embedding"])
                if (np.abs(x) >= _PQ_L2_MAX).any():
                    raise ValueError(
                        "PQ search: embedding components must be below"
                        " 189 in magnitude (64-dim int64 squared L2)"
                    )
                ids = np.broadcast_to(
                    blk["vec_id"].to_numpy(dtype=np.int64),
                    (len(qids), len(blk)),
                )
                own = ids == qids[:, None]
                diff = x[None, :, :] - qv[:, None, :]
                dd = (diff * diff).sum(axis=2)
                ad = lut[:, subspaces, codes].sum(axis=2)
                off = own
                if allowed is not None:
                    lab = blk["label"]
                    off = own | ~np.stack(
                        [lab.isin(c).to_numpy() for c in allowed]
                    )
                pool_ad, pool_id, pool_dd = _row_topk(
                    pool,
                    np.hstack([pool_ad, np.where(off, _PQ_FAR, ad)]),
                    np.hstack([pool_id, ids]),
                    np.hstack([pool_dd, dd]),
                )
                top_dd, top_id, top_ad = _row_topk(
                    10,
                    np.hstack([top_dd, np.where(own, _PQ_FAR, dd)]),
                    np.hstack([top_id, ids]),
                    np.hstack([top_ad, ad]),
                )
        for key, vid, adc, l2, exact in (
            (pool_ad, pool_id, pool_ad, pool_dd, False),
            (top_dd, top_id, top_ad, top_dd, True),
        ):
            q, j = np.nonzero(key < _PQ_FAR)
            yield pd.DataFrame({
                "query_id": qids[q],
                "vec_id": vid[q, j],
                "ad": adc[q, j],
                "dd": l2[q, j],
                "exact": exact,
            })

    def top(arm, n: int, *fields: str):
        """The first ``n`` of one arm's rows, sorted by ``fields``."""
        rows = F.array_sort(F.collect_list(F.when(arm, F.struct(*fields))))
        return F.slice(rows, 1, n)

    approx = F.col("pool")
    if rerank:
        by_dd = lambda p: F.struct(p.dd.alias("dd"), p.vec_id.alias("vec_id"))
        approx = F.array_sort(F.transform(approx, by_dd))
    approx = F.slice(approx, 1, 10).getField("vec_id")
    exact = F.col("top").getField("vec_id")
    cols = ["vec_id", "embedding"] + ([] if cells is None else ["label"])
    return (
        emb.select(*cols)
        .mapInPandas(scan, _PQ_HIT_SCHEMA)
        .groupBy("query_id")
        .agg(
            top(F.col("exact"), 10, "dd", "vec_id").alias("top"),
            top(~F.col("exact"), pool, "ad", "vec_id", "dd").alias("pool"),
        )
        .select(
            "query_id",
            F.lit(10).alias("k"),
            F.size(exact).alias("n_exact"),
            F.size(F.array_intersect(exact, approx)).alias("n_hit"),
        )
        .withColumn("recall", roundn(F.col("n_hit") / F.col("n_exact"), 4))
        .orderBy("query_id")
    )


_pq_search.__doc__ = _pq_search.__doc__.format(b=_PQ_SCAN_BLOCK)


def _pq_top_sql(src: str, key: str, n: int = 10) -> str:
    """Each query's best ``n`` (query_id, neighbor_id) rows of ``src``
    by (``key``, neighbor_id) — the order both arms of
    :func:`_pq_search` keep."""
    return f"""
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY {key}, neighbor_id) AS rank
            FROM {src})
        WHERE rank <= {n}"""


#: the oracle twin of :func:`_pq_index`: the trained codebook
#: (``c{it}``, ``a{it}``), the sampled queries ``qsamp`` and their
#: lookup table ``lut`` (query_id, m, k, l)
_PQ_LUT_SQL = f"""{_pq_flat_sql(_PQ_SEARCH_K)},
    {_pq_lloyd_sql(_PQ_SEARCH_ITERS)},
    qsamp AS ({sim.sql_query_sample_cte()}),
    qflat AS (
        SELECT vec_id AS query_id, m, d, q FROM flat
        WHERE vec_id IN (SELECT vec_id FROM qsamp)),
    lut AS (
        SELECT qf.query_id, qf.m, c.k,
               CAST(SUM((qf.q - c.cq) * (qf.q - c.cq)) AS BIGINT) AS l
        FROM qflat qf JOIN c{_PQ_SEARCH_ITERS} c
          ON c.m = qf.m AND c.d = qf.d
        GROUP BY 1, 2, 3)"""

#: micro-unit integer vectors ``qe`` (vec_id, qi) and the sampled
#: queries ``qq`` (query_id, qv)
_PQ_VECS_SQL = """qe AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0e0 + 0.5e0)
                        AS BIGINT)) AS qi
        FROM embeddings),
    qq AS (
        SELECT vec_id AS query_id, qi AS qv FROM qe
        WHERE vec_id IN (SELECT vec_id FROM qsamp))"""

#: the exact int64 squared L2 ``dd`` between ``qe.qi`` and ``qq.qv``
_PQ_L2_SQL = """CAST(list_sum(list_transform(range(1, len(qe.qi) + 1),
                   i -> (qe.qi[i] - qq.qv[i]) * (qe.qi[i] - qq.qv[i])))
                    AS BIGINT) AS dd"""

#: the exact arm of :func:`_pq_search` over :data:`_PQ_VECS_SQL`: each
#: query's exact top-10 ``exact_top`` (query_id, neighbor_id)
_PQ_EXACT_SQL = f"""exd AS (
        SELECT qq.query_id, qe.vec_id AS neighbor_id,
               {_PQ_L2_SQL}
        FROM qq CROSS JOIN qe WHERE qe.vec_id <> qq.query_id),
    exact_top AS ({_pq_top_sql("exd", "dd")})"""


@query("sim_topk_pq", oracle=_sim_pq_oracle())
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — PQ-ADC approximate search, the SERVING rung of the
    embedding_pq_codebook key (its docstring's "at serving scale the
    assigned codes join against precomputed query-to-centroid tables"):
    a {k}-centroid/{m}-dim-subspace codebook is trained with {it}
    unrolled Lloyd iterations from the deterministic md5 seeding, every
    candidate compresses to its 6-byte code, and queries score ALL
    candidates from a per-query LOOKUP TABLE of M x K precomputed
    subspace distances — M table lookups per candidate instead of D
    multiplications, and the index stores codes, not vectors (42x
    smaller at this operating point; 32x arithmetic saving at the
    production K=256).

    Evidence contract matches sim_topk_lsh/sim_topk_ivf: per-query
    recall@10 of the ADC ranking against the EXACT integer-L2
    brute-force baseline on the same micro-unit grid (query_id, k,
    n_exact, n_hit, recall) — the error measured is purely
    quantization loss, not metric mismatch.  On the near-structureless
    fixture vectors mean recall is ~0.41 — the honest cost of 42x
    compression on hard data, reported as data, not hidden; the
    planted-cluster law pins what PQ guarantees (cluster separation,
    recall >= 0.9) and documents what it cannot do (rank within a
    Voronoi cell).

    Exactness: codes, LUT entries, ADC sums and the exact baseline are
    all int64 on the micro-unit grid (64-dim sums <= 2.6e14 —
    double-safe in DuckDB's list arithmetic); every Lloyd round floors
    its centroid means identically on both engines; rank ties break on
    neighbor id.

    100 TB: training reads the fixed ≤{d}-vector stratum through one
    bounded driver collect (its first Q rows are the query sample) and
    runs on the driver; the codebook (≤ M x K x {m} values) and the
    |Q| x M x K LUT are bounded by config; serving is ONE map-only scan
    in which each partition encodes its own vectors and keeps a bounded
    partial top-k per query (the REPOSE partition-local shape), then
    ONE native per-query merge — no vector crosses an exchange, no
    nested-loop join.  The exact baseline is the deliberate recall
    reference over the FIXED-Q query sample (O(corpus·Q), linear — the
    r6 rework of the old corpus-proportional sample), same as the
    LSH/IVF keys; it shares this key's scan (_pq_search), so every key
    of the family pays its own O(corpus·Q·D) pass instead of reading
    one shared exact relation through joins.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_search(emb, _pq_index(spark, sf_dir), pool=10)


sim_topk_pq.__doc__ = sim_topk_pq.__doc__.format(
    m=_PQ_M_DIMS, k=_PQ_SEARCH_K, it=_PQ_SEARCH_ITERS, d=_PQ_TRAIN_D
)


# ---------------------------------------------------------------------------
# sim_topk_ivfpq — the composed IVF+PQ serving index (r5e wave)
# ---------------------------------------------------------------------------

#: coarse cells probed per query (matches sim_topk_ivf)
_IVFPQ_NPROBE = 3


def _sim_ivfpq_oracle() -> str:
    it = _PQ_SEARCH_ITERS
    cos = sim.SQL_COSINE
    return f"""
    WITH {_PQ_LUT_SQL},
    e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               list_transform(embedding,
                   x -> FLOOR(CAST(x AS DOUBLE) * 8192.0 + 0.5)) AS qi8
        FROM embeddings),
    pp AS (
        SELECT label, i AS pos, SUM(qi8[i]) AS s
        FROM e, UNNEST(range(1, len(qi8) + 1)) AS t(i)
        GROUP BY 1, 2),
    cents AS (SELECT label, list(s ORDER BY pos) AS cvec FROM pp GROUP BY 1),
    q2 AS (SELECT vec_id AS query_id, v AS qv2 FROM e
           WHERE vec_id IN (SELECT vec_id FROM qsamp)),
    probed AS (
        SELECT query_id, label FROM (
            SELECT query_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       {cos.format(a="qv2", b="cvec")} DESC, c.label) AS rn
            FROM q2 CROSS JOIN cents c)
        WHERE rn <= {_IVFPQ_NPROBE}),
    cand AS (
        SELECT p.query_id, e.vec_id
        FROM probed p JOIN e ON e.label = p.label
        WHERE e.vec_id <> p.query_id),
    adc AS (
        SELECT cn.query_id, cn.vec_id AS neighbor_id,
               CAST(SUM(l.l) AS BIGINT) AS ad
        FROM cand cn
        JOIN a{it} cd ON cd.vec_id = cn.vec_id
        JOIN lut l ON l.query_id = cn.query_id
                  AND l.m = cd.m AND l.k = cd.k_code
        GROUP BY 1, 2),
    adc_top AS ({_pq_top_sql("adc", "ad")}),
    {_PQ_VECS_SQL},
    {_PQ_EXACT_SQL},
    hits AS (
        SELECT e2.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top e2 JOIN adc_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


@query("sim_topk_ivfpq", oracle=_sim_ivfpq_oracle())
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 capstone — the COMPOSED IVF+PQ index, the actual shape of
    every billion-scale vector-serving system (FAISS IVFPQ): the
    coarse quantizer (sim_topk_ivf's engine-exact integer-sum cell
    centroids) prunes the search to nprobe={np} cells, and the fine
    quantizer (sim_topk_pq's {k}-centroid Lloyd-trained codebook)
    ADC-scores ONLY the probed candidates from their 6-byte codes —
    search cost = |probed cells|/|cells| of the corpus x M lookups
    per candidate, with the index storing codes, not vectors.

    Evidence contract matches the rest of the family: per-query
    recall@10 against the exact integer-L2 brute force (query_id, k,
    n_exact, n_hit, recall) — the loss now compounds coarse pruning
    (cells the true neighbor lives in but the query didn't probe) with
    quantization (Voronoi-cell blindness), and the three keys
    (ivf / pq / ivfpq) decompose exactly which stage loses what.

    Exactness: probe ranking reuses the IVF key's scale-invariant
    integer-sum centroids (the one double expression, identical trees
    both engines); codes/LUT/ADC sums are exact int64; ties break on
    (cell, neighbor) ids.

    100 TB: the probe runs in Spark (its cosine is the one double
    expression matched against the oracle) and its |Q| x nprobe
    (query, cell) rows are one bounded collect into the fused search
    scan, which ADC-scores only candidates in each query's probed cells
    with M LUT lookups apiece; the exact recall arm reads every vector
    in the same scan (_pq_search), and the shared index trains on the
    driver from one bounded collect of the fixed stratum (sim_topk_pq),
    so no vector crosses an exchange and the plan has no nested-loop
    join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probed = collect_bounded(
        sim.ivf_probe_portable(
            sim.sample_queries(emb), emb, nprobe=_IVFPQ_NPROBE
        ),
        sim.QUERY_SAMPLE_Q * _IVFPQ_NPROBE,
        "IVF-PQ probed cells",
    )
    cells: dict = {}
    for r in probed:
        cells.setdefault(r.query_id, []).append(r.label)
    return _pq_search(emb, _pq_index(spark, sf_dir), pool=10, cells=cells)


sim_topk_ivfpq.__doc__ = sim_topk_ivfpq.__doc__.format(
    np=_IVFPQ_NPROBE, k=_PQ_SEARCH_K
)


# ---------------------------------------------------------------------------
# sim_topk_pq_rerank — two-stage retrieve-then-rerank (r6b wave)
# ---------------------------------------------------------------------------

#: stage-1 pool width: the PQ-ADC index retrieves this many candidates
#: per query; stage 2 reranks them at full precision down to 10
_RERANK_POOL = 20


def _sim_pq_rerank_oracle() -> str:
    it = _PQ_SEARCH_ITERS
    return f"""
    WITH {_PQ_LUT_SQL},
    adc AS (
        SELECT l.query_id, cd.vec_id AS neighbor_id,
               CAST(SUM(l.l) AS BIGINT) AS ad
        FROM a{it} cd JOIN lut l ON l.m = cd.m AND l.k = cd.k_code
        WHERE cd.vec_id <> l.query_id
        GROUP BY 1, 2),
    pool AS ({_pq_top_sql("adc", "ad", _RERANK_POOL)}),
    {_PQ_VECS_SQL},
    rr AS (
        SELECT p.query_id, p.neighbor_id,
               {_PQ_L2_SQL}
        FROM pool p
        JOIN qe ON qe.vec_id = p.neighbor_id
        JOIN qq ON qq.query_id = p.query_id),
    rr_top AS ({_pq_top_sql("rr", "dd")}),
    {_PQ_EXACT_SQL},
    hits AS (
        SELECT e2.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top e2 JOIN rr_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


@query("sim_topk_pq_rerank", oracle=_sim_pq_rerank_oracle())
def sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — RETRIEVE-THEN-RERANK, the two-stage serving pattern every
    production vector stack runs (FAISS/ScaNN reorder step): stage 1
    retrieves a top-{p} candidate POOL per query from the PQ-ADC index
    (6-byte codes, M LUT lookups per candidate — sim_topk_pq's exact
    machinery, session-cached training), stage 2 re-scores ONLY those
    {p} candidates at FULL precision (exact integer-L2 on the
    micro-unit grid) and keeps the top-10.  Rerank recovers the
    quantization loss WITHIN the pool: the only neighbors still lost
    are those PQ pushed below rank {p} — so recall(rerank@10) ≥
    recall(pq@10) is a structural law (tests pin it), and the measured
    gap prices the reorder stage's value at +{p}·D exact multiplies
    per query.

    Exactness: pool membership, exact distances and ranks are all
    int64; ties break on neighbor id; same evidence contract as the
    rest of the family (query_id, k, n_exact, n_hit, recall).

    100 TB: both stages and the exact recall arm run in ONE fused scan
    (_pq_search): each partition keeps its own top-{p} ADC candidates
    per query with their exact distances already attached, and the
    per-query merge takes the global top-{p} pool and reorders it —
    the pool-sized rerank needs no fetch join against the vector store,
    because the scan that scored the codes held the full vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_search(
        emb, _pq_index(spark, sf_dir), pool=_RERANK_POOL, rerank=True
    )


sim_topk_pq_rerank.__doc__ = sim_topk_pq_rerank.__doc__.format(
    p=_RERANK_POOL
)


# ---------------------------------------------------------------------------
# sim_topk_ivf_sweep — the nprobe recall/cost tuning table (r6b wave)
# ---------------------------------------------------------------------------

#: probe widths swept; the registered sim_topk_ivf operating point (3)
#: sits inside the bracket
_IVF_SWEEP_PROBES = (1, 2, 4)


def _ivf_sweep_oracle() -> str:
    cos = sim.SQL_COSINE
    per_p = []
    for p in _IVF_SWEEP_PROBES:
        per_p.append(f"""
    ivf_top{p} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       cos_raw DESC, neighbor_id) AS rank
            FROM scored WHERE cell_rank <= {p})
        WHERE rank <= 10),
    agg{p} AS (
        SELECT CAST({p} AS INT) AS nprobe,
               (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM q)
                   AS n_queries,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM scored
                WHERE cell_rank <= {p}) AS total_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_top)
                   AS total_exact,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM exact_top e JOIN ivf_top{p} a
                  USING (query_id, neighbor_id)) AS total_hit)""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM agg{p}" for p in _IVF_SWEEP_PROBES
    )
    maxp = max(_IVF_SWEEP_PROBES)
    return f"""
    WITH {sim.SQL_QUANTIZED_VECTORS},
    {sim.sql_ivf_centroids()},
    qs AS ({sim.sql_query_sample_cte()}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id IN (SELECT vec_id FROM qs)),
    probed AS (
        SELECT query_id, label, rn AS cell_rank FROM (
            SELECT query_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       {cos.format(a="qv", b="cvec")} DESC, c.label) AS rn
            FROM q CROSS JOIN cents c)
        WHERE rn <= {maxp}),
    scored AS MATERIALIZED (
        SELECT p.query_id, e.vec_id AS neighbor_id, p.cell_rank,
               {cos.format(a="q.qv", b="e.v")} AS cos_raw
        FROM probed p
        JOIN e ON e.label = p.label
        JOIN q ON q.query_id = p.query_id
        WHERE e.vec_id <> p.query_id),
    exact_top AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                       {cos.format(a="qv", b="v")} DESC, vec_id) AS rank
            FROM q CROSS JOIN e WHERE query_id <> vec_id)
        WHERE rank <= 10),{",".join(per_p)}
    SELECT nprobe, n_queries, total_candidates, total_exact, total_hit,
           FLOOR(total_hit * 1.0e0 / total_exact * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS recall
    FROM ({unions})
    ORDER BY nprobe
    """


@query("sim_topk_ivf_sweep", oracle=_ivf_sweep_oracle())
def sim_topk_ivf_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-evidence — the IVF NPROBE TUNING TABLE: recall@10 and
    candidates-scored (the cost axis) for nprobe ∈ {probes}, the table
    an engineer reads before fixing a serving operating point — what
    `dedup_lsh_calibration` is for the banding config, this is for the
    coarse quantizer (sim_topk_ivf registers nprobe=3; this brackets
    it).  Recall climbs with nprobe while cost grows ~linearly in
    cells probed; the sweep prices that trade with measured numbers
    from the pipeline's own index, not the textbook curve.

    Exactness: ONE scoring pass at the widest probe carries each
    candidate's cell_rank, so narrower probes are FILTERS over the
    same scored relation (identical doubles both engines — the
    sim_topk_ivf ranking discipline); hits/candidates are exact
    integer counts; the single recall division is 6-dp floor-rounded.

    100 TB: the scored relation is built once at max(nprobe) —
    probe-bounded, nprobe/|cells| of the corpus per query; every sweep
    row is a filter + count over it.  Run the sweep on the fixed-Q
    sample, pick the knee, serve at that nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.sample_queries(emb)
    maxp = max(_IVF_SWEEP_PROBES)
    # the probe keeps cell_rank (ivf_probe_portable drops it): rank
    # cells per query by the same centroid cosine
    cents = sim.ivf_centroids_portable(emb)
    q = sim.as_double_vectors(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    qc = q.crossJoin(F.broadcast(cents))
    cent_cos = (
        sim._dot(F.col("q_vec"), F.col("centroid"))
        / sim._norm(F.col("q_vec"))
        / sim._norm(F.col("centroid"))
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("label")
    )
    probed = (
        qc.select("query_id", "q_vec", "label", cent_cos.alias("cell_cos"))
        .withColumn("cell_rank", F.row_number().over(w_cell))
        .filter(F.col("cell_rank") <= maxp)
        .select("query_id", "q_vec", "label", "cell_rank")
    )
    c = sim.as_double_vectors(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "label",
    )
    cos = (
        sim._dot(F.col("q_vec"), F.col("c_vec"))
        / sim._norm(F.col("q_vec"))
        / sim._norm(F.col("c_vec"))
    )
    scored = (
        c.join(F.broadcast(probed), "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell_rank", cos.alias("cos_raw"))
    )
    scored = scored.localCheckpoint(eager=False)  # one pass, 3 filters
    exact = exact_topk10(spark, sf_dir).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=False)
    n_queries = queries.select(
        F.count_distinct("vec_id").cast("long").alias("n_queries")
    )
    total_exact = exact.agg(
        F.count("*").cast("long").alias("total_exact")
    )
    out = None
    wq = Window.partitionBy("query_id")
    for p in _IVF_SWEEP_PROBES:
        sub = scored.filter(F.col("cell_rank") <= p)
        topp = (
            sub.withColumn(
                "rank",
                F.row_number().over(
                    wq.orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
                ),
            )
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id")
        )
        hits = exact.join(topp, ["query_id", "neighbor_id"], "semi").agg(
            F.count("*").cast("long").alias("total_hit")
        )
        cands = sub.agg(
            F.count("*").cast("long").alias("total_candidates")
        )
        row = (
            n_queries.crossJoin(F.broadcast(cands))
            .crossJoin(F.broadcast(total_exact))
            .crossJoin(F.broadcast(hits))
            .select(
                F.lit(p).cast("int").alias("nprobe"),
                "n_queries",
                "total_candidates",
                "total_exact",
                "total_hit",
                roundn(
                    F.col("total_hit") * F.lit(1.0) / F.col("total_exact"), 6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


sim_topk_ivf_sweep.__doc__ = sim_topk_ivf_sweep.__doc__.format(
    probes=set(_IVF_SWEEP_PROBES)
)


# ---------------------------------------------------------------------------
# embedding_knn_outliers — vector-corpus QC via kNN distance (r6c wave)
# ---------------------------------------------------------------------------

#: neighbors averaged for the outlier score / report width
_KNNO_K = 3
_KNNO_TOP = 20

#: banding config: 8-bit buckets (256/table) keep the candidate
#: relation sparse — at sf0.1 the 4-bit sim-search config collides
#: ~40% of ALL pairs (near-brute-force), 4×8 bits keeps ~2% with zero
#: isolated vectors; outlier detection wants tight buckets (isolation
#: IS the signal)
_KNNO_TABLES = 4
_KNNO_BITS = 8


def _knn_outliers_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, {t} AS table_id, {e} AS bucket FROM embeddings"
        for t, e in enumerate(
            sql_portable_lsh_buckets("embedding", _KNNO_TABLES, _KNNO_BITS, 64)
        )
    )
    return f"""
    WITH banded AS MATERIALIZED (
        {band_selects}),
    cand AS (
        SELECT DISTINCT a.vec_id AS v, b.vec_id AS u
        FROM banded a JOIN banded b
          ON b.table_id = a.table_id AND b.bucket = a.bucket
         AND b.vec_id <> a.vec_id),
    vecs AS (
        SELECT vec_id, list_transform(v, x -> x / nrm) AS v
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings)),
    scored AS (
        SELECT c.v, c.u,
               CAST(FLOOR(list_dot_product(va.v, vb.v)
                          * 10000.0e0 + 0.5e0) AS BIGINT)
                   AS cos_micro
        FROM cand c
        JOIN vecs va ON va.vec_id = c.v
        JOIN vecs vb ON vb.vec_id = c.u),
    nn AS (
        SELECT v, cos_micro,
               ROW_NUMBER() OVER (PARTITION BY v
                   ORDER BY cos_micro DESC, u) AS rn,
               COUNT(*) OVER (PARTITION BY v) AS n_cand
        FROM scored),
    agg AS (
        SELECT v AS vec_id,
               CAST(MAX(n_cand) AS BIGINT) AS n_neighbors,
               FLOOR(SUM(CASE WHEN rn <= {_KNNO_K} THEN cos_micro END)
                     * 1.0e0
                     / SUM(CASE WHEN rn <= {_KNNO_K} THEN 1 ELSE 0 END)
                     + 0.5e0) / 10000.0e0 AS knn_cosine
        FROM nn GROUP BY v)
    SELECT e.vec_id,
           CAST(COALESCE(a.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           a.knn_cosine
    FROM embeddings e LEFT JOIN agg a ON a.vec_id = e.vec_id
    ORDER BY a.knn_cosine ASC NULLS FIRST, e.vec_id
    LIMIT {_KNNO_TOP}
    """


@query("embedding_knn_outliers", oracle=_knn_outliers_oracle())
def embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QC — kNN-DISTANCE OUTLIER detection, the
    vector-space twin of the tabular anomaly battery: a vector whose
    mean cosine to its {k} nearest ACCESSIBLE neighbors is low (or
    that collides with NOBODY in any of 4 tight 8-bit LSH tables —
    NULL score,
    ranked first) is garbage, mis-embedded, or from a different
    distribution — exactly what a curator reviews before training on a
    scraped embedding corpus.  Report: the {top} most isolated vectors
    with their candidate count and {k}-NN mean cosine.

    Neighbors come from the portable-LSH bucket join (the dedup
    banding shape, Σ|bucket|² candidates per table — NEVER all-pairs;
    the 4×8-bit config keeps ~2% of pairs at sf0.1 where the sim-search
    4-bit config would collide ~40%), so the score is
    approximate-by-construction at scale — exactly right for a QC pass
    whose signal is isolation, not exact rank.

    Exactness: bucket ids are exact int64 sign bits (bit-identical in
    DuckDB); vectors are L2-normalized ONCE with identical trees on
    both engines so each pair score is a single dot fold (the
    sim_topk_graph discipline — 3 folds/pair → 1); per-pair cosines
    are micro-quantized to int64 BEFORE the top-{k} mean, so selection
    and averaging compare identical integers; the single mean division
    floors identically.

    100 TB: banding is one map-side pass; the candidate join is
    bucket-equi; per-vector state is its candidate list; the report is
    a global top-{top} (TakeOrderedAndProject)."""
    emb = load_table(spark, sf_dir, "embeddings")
    banded = sim.portable_lsh_buckets(
        emb, "vec_id", _KNNO_TABLES, _KNNO_BITS, 64
    )
    banded = banded.localCheckpoint(eager=False)  # both join sides
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("b.table_id") == F.col("a.table_id"))
            & (F.col("b.bucket") == F.col("a.bucket"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(F.col("a.vec_id").alias("v"), F.col("b.vec_id").alias("u"))
        .distinct()
    )
    vecs = (
        sim.as_double_vectors(emb)
        .withColumn("nrm", sim._norm(F.col("embedding")))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda x: x / F.col("nrm")
            ).alias("vv"),
        )
        .localCheckpoint(eager=False)  # both pair sides
    )
    scored = (
        cand.join(
            vecs.select(F.col("vec_id").alias("v"), F.col("vv").alias("va")),
            "v",
        )
        .join(
            vecs.select(F.col("vec_id").alias("u"), F.col("vv").alias("vb")),
            "u",
        )
        .select(
            "v",
            "u",
            F.floor(
                sim._dot(F.col("va"), F.col("vb")) * F.lit(10000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_micro"),
        )
    )
    wv = Window.partitionBy("v")
    nn = scored.select(
        "v",
        "cos_micro",
        F.row_number()
        .over(wv.orderBy(F.desc("cos_micro"), F.asc("u")))
        .alias("rn"),
        F.count("*").over(wv).alias("n_cand"),
    )
    top = F.when(F.col("rn") <= _KNNO_K, F.col("cos_micro"))
    agg = nn.groupBy(F.col("v").alias("vec_id")).agg(
        F.max("n_cand").cast("long").alias("n_neighbors"),
        (
            F.floor(
                F.sum(top) * F.lit(1.0)
                / F.sum(F.when(F.col("rn") <= _KNNO_K, 1).otherwise(0))
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("knn_cosine"),
    )
    return (
        emb.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).cast("long").alias(
                "n_neighbors"
            ),
            "knn_cosine",
        )
        .orderBy(F.asc_nulls_first("knn_cosine"), F.asc("vec_id"))
        .limit(_KNNO_TOP)
    )


embedding_knn_outliers.__doc__ = embedding_knn_outliers.__doc__.format(
    k=_KNNO_K, top=_KNNO_TOP
)


# ---------------------------------------------------------------------------
# sim_topk_graph — hierarchical graph-routed ANN (r6d wave)
# ---------------------------------------------------------------------------

#: base-layer out-degree (top-E in-cell kNN edges per vector), beam
#: width, and unrolled greedy hops after the coarse entry
_NSW_E = 8
_NSW_B = 16
_NSW_H = 3
#: hard cap on the LINK LAYER (the rep set every node exact-scores for
#: its 2 long-range links): when |cells| exceeds this, projection-rank
#: grouping keeps one rep per group — the faiss pattern of a coarse
#: codebook that must fit in memory; the link build is then O(n·cap)
#: FLAT regardless of corpus size (and a ≤cap-row bounded collect
#: feeds the exact int64 BLAS matmul)
_NSW_CAP = 256


def _sim_graph_oracle() -> str:
    cos = sim.SQL_COSINE
    hops = []
    for i in range(1, _NSW_H + 1):
        hops.append(f"""
    cand{i} AS (
        SELECT DISTINCT b.query_id, nb.dst AS nid
        FROM beam{i - 1} b JOIN nb ON nb.src = b.nid),
    scored{i} AS (
        SELECT c.query_id, c.nid,
               list_dot_product(q.qv, en.v) AS cs
        FROM cand{i} c
        JOIN en ON en.vec_id = c.nid
        JOIN q ON q.query_id = c.query_id),
    visited{i} AS MATERIALIZED (
        SELECT query_id, nid, cs FROM visited{i - 1}
        UNION
        SELECT query_id, nid, cs FROM scored{i}),
    beam{i} AS (
        SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, nid) AS rn
            FROM visited{i})
        WHERE rn <= {_NSW_B})""")
    return f"""
    WITH cells AS (
        SELECT vec_id, proj, {sim.sql_bounded_cells_chunk()} AS chunk FROM (
            SELECT vec_id,
                   {sim.sql_bounded_cells_proj("embedding")} AS proj,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY
                       {sim.sql_bounded_cells_order("embedding", "vec_id")})
                       AS rn
            FROM embeddings)),
    e AS MATERIALIZED (
        SELECT em.vec_id, em.label, cells.chunk, cells.proj,
               embedding::DOUBLE[] AS v
        FROM embeddings em JOIN cells ON cells.vec_id = em.vec_id),
    en AS MATERIALIZED (
        SELECT vec_id, label, chunk, proj,
               list_transform(v, x -> x / nrm) AS v
        FROM (SELECT vec_id, label, chunk, proj, v,
                     sqrt(list_dot_product(v, v)) AS nrm FROM e)),
    qs AS ({sim.sql_query_sample_cte()}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM en
          WHERE vec_id IN (SELECT vec_id FROM qs)),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS src, a.label, a.chunk, b.vec_id AS dst,
               list_dot_product(a.v, b.v) AS cs
        FROM en a JOIN en b
          ON b.label = a.label AND b.chunk = a.chunk
         AND b.vec_id <> a.vec_id),
    kedge AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY cs DESC, dst) AS rn
            FROM pairs)
        WHERE rn <= {_NSW_E}),
    medoid AS (
        SELECT label, chunk, src AS rep FROM (
            SELECT label, chunk, src,
                   ROW_NUMBER() OVER (PARTITION BY label, chunk
                       ORDER BY SUM(CAST(FLOOR(cs * 1000000000.0e0
                                               + 0.5e0) AS BIGINT)) DESC,
                                src) AS rn
            FROM pairs GROUP BY label, chunk, src)
        WHERE rn = 1),
    reps AS (
        SELECT c.label, c.chunk, COALESCE(m.rep, c.lone) AS rep
        FROM (SELECT label, chunk, MIN(vec_id) AS lone
              FROM en GROUP BY label, chunk) c
        LEFT JOIN medoid m ON m.label = c.label AND m.chunk = c.chunk),
    repv AS MATERIALIZED (
        SELECT r.rep, ev.v
        FROM reps r JOIN en ev ON ev.vec_id = r.rep),
    l1 AS MATERIALIZED (
        SELECT q.query_id, r.rep AS nid,
               list_dot_product(q.qv, r.v) AS cs
        FROM q CROSS JOIN repv r),
    rrank AS (
        SELECT r.rep, en.proj, en.v,
               ROW_NUMBER() OVER (ORDER BY en.proj, r.rep) AS rr,
               COUNT(*) OVER () AS nc
        FROM reps r JOIN en ON en.vec_id = r.rep),
    linkreps AS MATERIALIZED (
        SELECT rep, list_transform(v,
                   x -> FLOOR(x * 8192.0e0 + 0.5e0)) AS qrv
        FROM (SELECT rep, v,
                     ROW_NUMBER() OVER (PARTITION BY
                         CAST(FLOOR((rr - 1) * LEAST(nc, {_NSW_CAP})
                                    * 1.0e0 / nc) AS BIGINT)
                         ORDER BY rr) AS sr
              FROM rrank)
        WHERE sr = 1),
    qn AS (
        SELECT vec_id,
               list_transform(v, x -> FLOOR(x * 8192.0e0 + 0.5e0)) AS qv
        FROM en),
    rep2 AS (
        SELECT src, dst FROM (
            SELECT n.vec_id AS src, r.rep AS dst,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY list_dot_product(n.qv, r.qrv) DESC, r.rep)
                       AS rn
            FROM qn n CROSS JOIN linkreps r)
        WHERE rn IN (2, 3) AND src <> dst),
    nb AS MATERIALIZED (
        SELECT src, dst FROM kedge
        UNION
        SELECT dst, src FROM kedge
        UNION
        SELECT src, dst FROM rep2
        UNION
        SELECT dst, src FROM rep2),
    visited0 AS (SELECT query_id, nid, cs FROM l1),
    beam0 AS (
        SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, nid) AS rn
            FROM visited0)
        WHERE rn <= {_NSW_B}),{",".join(hops)},
    graph_top AS (
        SELECT query_id, nid AS neighbor_id FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, nid) AS rank
            FROM visited{_NSW_H} WHERE nid <> query_id)
        WHERE rank <= 10),
    qraw AS (SELECT vec_id AS query_id, v AS qv FROM e
             WHERE vec_id IN (SELECT vec_id FROM qs)),
    exact_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q2.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q2.query_id
                       ORDER BY {cos.format(a="q2.qv", b="e.v")} DESC,
                                e.vec_id) AS rank
            FROM qraw q2 CROSS JOIN e WHERE e.vec_id <> q2.query_id)
        WHERE rank <= 10),
    hits AS (
        SELECT x.query_id, CAST(COUNT(*) AS INT) AS n_hit
        FROM exact_top x JOIN graph_top a USING (query_id, neighbor_id)
        GROUP BY 1),
    {sim.SQL_TOPK_RECALL}
    """


@query("sim_topk_graph", oracle=_sim_graph_oracle())
def sim_topk_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — GRAPH-ROUTED ANN, the family the ladder was missing
    (hash=LSH, space-partition=IVF, quantization=PQ, composed=IVFPQ,
    reorder=rerank — this is the HNSW/NSW shape): a TWO-LAYER
    navigable structure over BOUNDED cells (operators/similarity.
    bounded_cells: |cell| ≤ 32 hard, cell count grows with the
    corpus).  The coarse layer is one MEDOID representative per cell
    (max quantized in-cell cosine mass — exact integer nano-unit sum,
    computed off the pair relation the base graph already pays for;
    min-id fallback for singleton cells); the base layer is the
    in-cell kNN graph (top-{e} exact-cosine edges per vector,
    symmetrized) plus LONG-RANGE links: every node also links to the
    representatives of its 2nd- and 3rd-nearest LINK-LAYER cells (the
    rep set capped at {cap} by projection-rank grouping — the faiss
    in-memory-codebook pattern — scored by an exact int64 matmul
    against the bounded collected rep matrix) — the HNSW-style
    cross-cell mobility the r6 build lacked (in-cell-only edges left
    routing hostage to the coarse layer; measured fixture recall rose
    0.59 → 0.81 when these links landed; a cell-level rep graph
    measured 0.30 and 1-D projection-curve edges 0.28 — the links
    must be query-adaptive per node and one hop away).  Search: score
    the query against ALL ≤|cells| representatives (multi-entry
    seeding — the visited set starts with the whole coarse layer, so
    routing never loses a cell to one bad greedy step; the query's
    own vector may be traversed as a waypoint — standard graph-ANN
    semantics — and is excluded only from the RESULT ranking), then
    {h} unrolled GREEDY BEAM hops (beam {b}) through the neighbor
    graph, keeping the best-so-far visited set; report recall@10 of
    the visited top-10 vs exact brute force — same evidence contract
    as the rest of the family.  Measured fixture recall@10 at sf0.1:
    0.81 — ABOVE the cheaper LSH rung (0.73) now, vs 0.59 below it
    in the r6 in-cell-only build; 1.00 at sf0.01.

    Exactness: traversal sets are exact (deterministic entry,
    identical cosine trees, ties on vec_id); the medoid rank sums
    integer-quantized cosines (order-free cross-engine); the visited
    union deduplicates on (query, node); hits/recall integer + one
    floored division.

    100 TB: the build is Σ|cell|² ≤ n·32 BY CONSTRUCTION (the
    bounded-cell quantizer splits oversized label cells on a
    deterministic projection order — replicated/skewed corpora grow
    CELL COUNT, not cell size), and runs ONCE; long-range links cost
    one Arrow-batched O(n·{cap}) matmul pass (the link layer is
    hard-capped, so the collect feeding it is bounded); per query the
    search touches |cells| + {b}·({e}+2)·{h} vectors; every hop is
    one equi-join of the (query, beam) relation against the edge
    list.  Measured at the 8× replication probe: the non-exact-arm
    cost is FLAT (~9 s → ~10 s) — the growth left is the linear
    brute-force recall baseline itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    raw = sim.bounded_cells(
        sim.as_double_vectors(emb), keep_proj="proj"
    ).select(
        "vec_id", "label", "chunk", "proj", F.col("embedding").alias("v")
    )
    # L2-normalize ONCE so every pair/hop score is a single dot fold
    # (3 folds/pair -> 1; measured 7.3 s -> ~2.5 s on the sf0.1 build);
    # identical normalize-then-dot trees on the oracle side
    nrm = raw.withColumn("nrm", sim._norm(F.col("v")))
    e = nrm.select(
        "vec_id",
        "label",
        "chunk",
        "proj",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
    )
    e = e.localCheckpoint(eager=False)  # reps + pairs + hop scoring
    q = sim.sample_queries(e).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    q = q.localCheckpoint(eager=False)

    def cs(a, b):
        return sim._dot(a, b)

    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("b.label") == F.col("a.label"))
        & (F.col("b.chunk") == F.col("a.chunk"))
        & (F.col("b.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("a.label").alias("label"),
        F.col("a.chunk").alias("chunk"),
        F.col("b.vec_id").alias("dst"),
        cs(F.col("a.v"), F.col("b.v")).alias("cs"),
    )
    pairs = pairs.localCheckpoint(eager=False)  # kedge + medoid reps
    ws = Window.partitionBy("src").orderBy(F.desc("cs"), F.asc("dst"))
    kedge = (
        pairs.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _NSW_E)
        .select("src", "dst")
    )
    # MEDOID representatives (r7): the cell's rep is the vector with the
    # largest total in-cell cosine mass (quantized to integer nano-units
    # so the cross-row sum is exact and order-free on both engines) —
    # reuses the pair relation the kNN edges already paid for; a min-id
    # fallback covers singleton cells with no pairs.
    wm = Window.partitionBy("label", "chunk").orderBy(
        F.desc("tcs"), F.asc("src")
    )
    medoid = (
        pairs.groupBy("label", "chunk", "src")
        .agg(
            F.sum(
                F.floor(F.col("cs") * F.lit(1000000000.0) + F.lit(0.5))
                .cast("long")
            ).alias("tcs")
        )
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("label", "chunk", F.col("src").alias("rep"))
    )
    lone = e.groupBy("label", "chunk").agg(F.min("vec_id").alias("lone"))
    reps = lone.join(medoid, ["label", "chunk"], "left").select(
        "label",
        "chunk",
        F.coalesce(F.col("rep"), F.col("lone")).alias("rep"),
    )
    repv = reps.join(
        e.select(F.col("vec_id").alias("rep"), F.col("v").alias("rv")),
        "rep",
    ).select("rep", "rv")
    repv = repv.localCheckpoint(eager=False)  # l1 seeding + rep2 links
    wq = Window.partitionBy("query_id")
    l1 = (
        q.crossJoin(F.broadcast(repv))
        .select(
            "query_id",
            F.col("rep").alias("nid"),
            cs(F.col("qv"), F.col("rv")).alias("cs"),
        )
    )
    # LONG-RANGE LINKS (r7): every node links to the reps of its 2nd-
    # and 3rd-nearest LINK-LAYER cells — the HNSW-style cross-cell
    # mobility the r6 docstring named as the missing piece, and the
    # design that measured 0.81 recall where a cell-level rep graph
    # (0.30) and 1-D projection-curve edges (0.28) both failed: the
    # links must be QUERY-ADAPTIVE per node and reachable in one hop.
    # The link layer is the rep set capped at _NSW_CAP by
    # projection-rank grouping (identity when |cells| ≤ cap, the
    # bench/sf0.01 case), scored with an exact int64 BLAS matmul in a
    # pandas UDF against the ≤cap-row collected rep matrix (the faiss
    # in-memory-codebook pattern; the interpreted fold version of the
    # same scoring cost 25 s at the x8 probe) — O(n·cap) FLAT.
    nc = reps.count()
    wlr = Window.partitionBy("super").orderBy(F.asc("rr"))
    rrank = (
        reps.join(
            e.select(F.col("vec_id").alias("rep"), "proj", "v"), "rep"
        )
        .withColumn(
            "rr",
            F.row_number().over(
                Window.orderBy(F.asc("proj"), F.asc("rep"))
            ),
        )
        .withColumn(
            "super",
            F.floor(
                (F.col("rr") - 1)
                * F.lit(float(min(nc, _NSW_CAP)))
                / F.lit(float(nc))
            ).cast("long"),
        )
    )
    linkreps = (
        rrank.withColumn("sr", F.row_number().over(wlr))
        .filter(F.col("sr") == 1)
        .select(
            "rep",
            F.transform(
                "v",
                lambda x: F.floor(x * F.lit(8192.0) + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("qrv"),
        )
    )
    lr_rows = sorted(
        collect_bounded(linkreps, _NSW_CAP, "NSW link-layer reps"),
        key=lambda r: r["rep"],
    )
    lr_ids = np.array([r["rep"] for r in lr_rows], dtype=np.int64)
    lr_mat = np.array([r["qrv"] for r in lr_rows], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _top23(qvs: pd.Series) -> pd.Series:
        if len(qvs) == 0:
            return pd.Series([], dtype=object)
        q = np.vstack(qvs.to_numpy()).astype(np.int64)
        scores = q @ lr_mat.T  # exact int64 — order-free both engines
        # rank by score desc, ties by rep id asc; keep positions 2, 3
        order = np.lexsort((np.broadcast_to(lr_ids, scores.shape),
                            -scores), axis=1)
        return pd.Series(list(lr_ids[order[:, 1:3]]))

    qn = e.select(
        "vec_id",
        F.transform(
            "v",
            lambda x: F.floor(x * F.lit(8192.0) + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    rep2 = (
        qn.select("vec_id", _top23(F.col("qv")).alias("lnk"))
        .select("vec_id", F.explode("lnk").alias("rep"))
        .filter(F.col("vec_id") != F.col("rep"))
        .select(F.col("vec_id").alias("src"), F.col("rep").alias("dst"))
    )
    nb = (
        kedge.unionByName(
            kedge.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .unionByName(rep2)
        .unionByName(
            rep2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    nb = nb.localCheckpoint(eager=False)  # one join per hop
    # r10 stage-count cut (r9 verdict task #2): the loop below carried
    # THREE exchanges per hop — cand.distinct(), union().distinct() and
    # the beam-rank window — plus a coalesce.  All three collapse into
    # ONE hash exchange on query_id per hop: HashPartitioning(query_id)
    # satisfies the clustering requirement of BOTH the (query_id, nid)
    # dedup window (partitioning exprs ⊆ clustering exprs) and the
    # beam-rank window, so after one repartition the dedup and the rank
    # are two local sorts in the same stage.  Dedup keeps one row per
    # (query_id, nid) — equivalent to the old 3-column distinct because
    # cs is the identical deterministic fold over the identical
    # checkpointed vectors (functionally dependent on the pair).  The
    # beam rank rides along as a column, so the next hop's beam is a
    # filter on the checkpointed relation instead of a fresh window.
    wdup = Window.partitionBy("query_id", "nid").orderBy(F.asc("cs"))
    wrnk = wq.orderBy(F.desc("cs"), F.asc("nid"))

    def _rank_beam(rel: DataFrame) -> DataFrame:
        """One query_id exchange → (query_id, nid)-dedup + beam rank."""
        return (
            rel.repartition("query_id")
            .withColumn("__d", F.row_number().over(wdup))
            .filter(F.col("__d") == 1)
            .withColumn("rn", F.row_number().over(wrnk))
            .drop("__d")
            .localCheckpoint(eager=False)
        )

    visited = _rank_beam(l1)  # (query_id, nid, cs, rn)
    nbb = F.broadcast(nb)  # ≤2E·n edge rows — bounded, broadcastable
    for _ in range(_NSW_H):
        cand = (
            visited.filter(F.col("rn") <= _NSW_B)
            .select("query_id", "nid")
            .join(nbb, F.col("nid") == nb.src)
            .select("query_id", F.col("dst").alias("nid"))
        )
        scored = (
            cand.join(
                F.broadcast(e.select(F.col("vec_id").alias("nid"), "v")),
                "nid",
            )
            .join(F.broadcast(q), "query_id")
            .select("query_id", "nid", cs(F.col("qv"), F.col("v")).alias("cs"))
        )
        visited = _rank_beam(
            visited.select("query_id", "nid", "cs").unionByName(scored)
        )
    graph_top = (
        visited.filter(F.col("nid") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(wq.orderBy(F.desc("cs"), F.asc("nid"))),
        )
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("nid").alias("neighbor_id"), "rank")
    )
    return sim.topk_recall(
        graph_top, exact_topk10(spark, sf_dir), k=10
    ).orderBy("query_id")


sim_topk_graph.__doc__ = sim_topk_graph.__doc__.format(
    e=_NSW_E, b=_NSW_B, h=_NSW_H, cap=_NSW_CAP
)


# ---------------------------------------------------------------------------
# dedup_minhash_sweep — the bands×rows operating table (r6f wave)
# ---------------------------------------------------------------------------

#: (bands, rows_per_band) configs swept over the 32-permutation
#: signature — S-curve thresholds (1/b)^(1/r) ≈ 0.25 / 0.59 / 0.84, so
#: the three rows bracket the 0.5 production threshold from both sides
_MH_SWEEP = ((16, 2), (8, 4), (4, 8))


def _minhash_sweep_oracle() -> str:
    perms = dd._hash_params(32)
    sig_cols = ",\n               ".join(
        f"MIN(({a} * h + {b}) % 2147483647) AS sig_{i}"
        for i, (a, b) in enumerate(perms)
    )
    cfg_ctes, cfg_rows = [], []
    for bands, rows in _MH_SWEEP:
        selects = []
        for b in range(bands):
            cols = " || '_' || ".join(
                f"CAST(sig_{b * rows + i} AS VARCHAR)" for i in range(rows)
            )
            selects.append(
                f"SELECT doc_id, {b} AS band_id, {cols} AS bucket FROM sig"
            )
        band_sql = "\n            UNION ALL\n            ".join(selects)
        cfg_ctes.append(f"""
    cand_{bands}_{rows} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({band_sql}) a
        JOIN ({band_sql}) b
          ON b.band_id = a.band_id AND b.bucket = a.bucket
         AND a.doc_id < b.doc_id)""")
        cfg_rows.append(f"""
    SELECT CAST({bands} AS INT) AS bands,
           CAST({rows} AS INT) AS rows_per_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{bands}_{rows})
               AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truep) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM cand_{bands}_{rows} c JOIN truep t
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit""")
    unions = " UNION ALL ".join(cfg_rows)
    return f"""
    WITH ds AS ({sim.sql_query_sample_cte(_LSH_CAL_DOCS, "documents", "doc_id")}),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, UNNEST({tx.SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3
          AND doc_id IN (SELECT doc_id FROM ds)),
    h AS (
        SELECT doc_id, {_MINHASH_CHARFOLD} AS h FROM sh),
    sig AS MATERIALIZED (
        SELECT doc_id,
               {sig_cols}
        FROM h GROUP BY doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    truep AS MATERIALIZED (
        SELECT u.doc_a, u.doc_b FROM (
            SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM sh sa JOIN sh sb
              ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
            GROUP BY 1, 2) u
        JOIN cnt ca ON ca.doc_id = u.doc_a
        JOIN cnt cb ON cb.doc_id = u.doc_b
        WHERE 3 * u.n_both >= ca.n_sh + cb.n_sh),{",".join(cfg_ctes)}
    SELECT bands, rows_per_band, n_candidates, n_true, n_hit,
           CASE WHEN n_candidates > 0 THEN
               FLOOR(n_hit * 1.0e0 / n_candidates * 1000000.0e0 + 0.5e0)
                   / 1000000.0e0 END AS precision,
           CASE WHEN n_true > 0 THEN
               FLOOR(n_hit * 1.0e0 / n_true * 1000000.0e0 + 0.5e0)
                   / 1000000.0e0 END AS recall
    FROM ({unions})
    ORDER BY bands DESC
    """


@query("dedup_minhash_sweep", oracle=_minhash_sweep_oracle())
def dedup_minhash_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-evidence — the MinHash BANDS×ROWS OPERATING TABLE, completing
    the tuning-table tier (nprobe sweep : IVF :: this : LSH dedup):
    measured candidate count, precision and recall against the exact
    J ≥ 0.5 truth for three bandings of ONE shared 32-permutation
    signature — (16,2) casts wide (S-curve threshold ≈ 0.25: high
    recall, shuffle waste), (4,8) casts narrow (≈ 0.84: high precision,
    missed dups), (8,4) is the registered production config.  Where
    dedup_lsh_calibration verifies the S-curve LAW for one config, this
    table prices the CHOICE — the two queries an engineer runs before
    committing a 100 TB dedup pass.

    Exactness: signatures/buckets are exact integer arithmetic (the
    dedup_minhash discipline); the truth set uses the integer form
    3·n_both ≥ n_a + n_b of J ≥ 0.5 (no float compare); counts are
    exact; the two ratios floor-round once.

    100 TB: one signature build serves all three bandings (the sweep
    adds band-explosions, not scans); candidates are banded bucket
    joins (Σ|bucket|²); the exact truth set runs on the fixed-D
    hash-rank stratum (D={d}, the dedup_lsh_calibration discipline) so
    the pair universe is bounded at any corpus size."""
    docs = sim.sample_queries(
        load_table(spark, sf_dir, "documents"), q=_LSH_CAL_DOCS,
        id_col="doc_id",
    )
    # r10: stratum shingles = session corpus_shingles ∩ sampled ids
    # (see dedup_lsh_calibration — identical relation, shared build)
    ids = sim.query_sample_ids(
        load_table(spark, sf_dir, "documents"), q=_LSH_CAL_DOCS,
        id_col="doc_id",
    )
    sh = (
        corpus_shingles(spark, sf_dir)
        .join(F.broadcast(ids), "doc_id", "semi")
        .localCheckpoint(eager=False)
    )
    truep = (
        dd.ngram_jaccard_pairs(docs, threshold=0.5, shingles=sh)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # joined by every config row
    )
    n_true = truep.agg(F.count("*").cast("long").alias("n_true"))
    out = None
    for bands, rows in _MH_SWEEP:
        cand = dd.minhash_band_candidates(
            docs, 32, bands, 3, shingles=sh
        ).select("doc_a", "doc_b")
        cand = cand.localCheckpoint(eager=False)  # count + hit join
        n_cand = cand.agg(
            F.count("*").cast("long").alias("n_candidates")
        )
        n_hit = cand.join(truep, ["doc_a", "doc_b"], "semi").agg(
            F.count("*").cast("long").alias("n_hit")
        )
        row = (
            n_cand.crossJoin(F.broadcast(n_true))
            .crossJoin(F.broadcast(n_hit))
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rows).cast("int").alias("rows_per_band"),
                "n_candidates",
                "n_true",
                "n_hit",
                F.when(
                    F.col("n_candidates") > 0,
                    roundn(
                        F.col("n_hit") * F.lit(1.0) / F.col("n_candidates"),
                        6,
                    ),
                ).alias("precision"),
                F.when(
                    F.col("n_true") > 0,
                    roundn(F.col("n_hit") * F.lit(1.0) / F.col("n_true"), 6),
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.desc("bands"))


dedup_minhash_sweep.__doc__ = dedup_minhash_sweep.__doc__.format(
    d=_LSH_CAL_DOCS
)


# ---------------------------------------------------------------------------
# sim_index_maintenance — delta assignment + retrain signal (r6g wave)
# ---------------------------------------------------------------------------

#: arriving-delta split: vec_id % 10 ∈ {8,9} plays the freshly-ingested
#: batch (a DATA split — unlike the evidence arms, proportional is the
#: honest shape for ingest)
_IDXM_MOD = 10
_IDXM_BASE = 8


def _idx_maintenance_oracle() -> str:
    cos = sim.SQL_COSINE
    return f"""
    WITH {sim.SQL_QUANTIZED_VECTORS},
    base AS (SELECT * FROM e WHERE vec_id % {_IDXM_MOD} < {_IDXM_BASE}),
    delta AS (SELECT * FROM e WHERE vec_id % {_IDXM_MOD} >= {_IDXM_BASE}),
    {sim.sql_ivf_centroids("base")},
    assigned AS (
        SELECT vec_id, own_label, label AS cell FROM (
            SELECT d.vec_id, d.label AS own_label, c.label,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                       {cos.format(a="d.v", b="c.cvec")} DESC,
                       c.label) AS rn
            FROM delta d CROSS JOIN cents c)
        WHERE rn = 1),
    nb AS (SELECT label AS cell, CAST(COUNT(*) AS BIGINT) AS n_base
           FROM base GROUP BY 1),
    nd AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_delta,
               CAST(SUM(CASE WHEN own_label <> cell THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_crossed
        FROM assigned GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(n_delta) AS BIGINT) AS d_tot,
               CAST(SUM(n_base) AS BIGINT) AS b_tot
        FROM nb LEFT JOIN nd USING (cell))
    SELECT nb.cell,
           nb.n_base,
           CAST(COALESCE(nd.n_delta, 0) AS BIGINT) AS n_delta,
           CAST(COALESCE(nd.n_crossed, 0) AS BIGINT) AS n_crossed,
           FLOOR(COALESCE(nd.n_delta, 0) * 1000000.0e0 / nb.n_base + 0.5e0)
               / 1000000.0e0 AS growth,
           COALESCE(nd.n_delta, 0) * t.b_tot
               > 2 * t.d_tot * nb.n_base AS retrain_flag
    FROM nb LEFT JOIN nd USING (cell) CROSS JOIN tot t
    ORDER BY nb.cell
    """


@query("sim_index_maintenance", oracle=_idx_maintenance_oracle())
def sim_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-ops — IVF INDEX MAINTENANCE, the missing lifecycle stage of
    the serving ladder (build → tune → serve → rerank → MAINTAIN): a
    freshly-ingested delta batch (vec_id % {m} ≥ {b}) is assigned to
    the nearest EXISTING coarse cell (centroids trained on the base
    corpus only — the engine-exact integer-sum quantizer shared with
    sim_topk_ivf), and the report every vector-store operator watches
    comes out per cell: base size, arrivals, cross-label drift
    (arrivals whose own label ≠ their assigned cell — the quantizer
    aging signal), relative growth, and a RETRAIN FLAG for cells
    absorbing > 2× their fair share of arrivals (the exact-integer
    cross-multiplied form n_delta·B > 2·D·n_base — no division).

    Exactness: assignment ranks identical cosine trees with label
    tie-breaks (the sim_topk_ivf discipline); counts and the flag are
    exact integers; the single growth ratio floor-rounds once.

    100 TB: arrivals never touch the base corpus — they join the
    |cells|-row broadcast centroid relation (one map-side pass over
    the delta); the report is a cell-cardinality rollup.  When flags
    accumulate, the retrain is sim_topk_ivf's centroid build — one
    base scan — and the flag history says WHEN that's worth paying."""
    _base, _assigned, report = _idxm_report(spark, sf_dir)
    return report.orderBy("cell")


def _idxm_report(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(base, assigned-delta, per-cell maintenance report) — the shared
    internals of sim_index_maintenance and the composed
    sim_index_rebalance key (plans/retrieval2.py) that CONSUMES the
    retrain flag."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _IDXM_MOD < _IDXM_BASE)
    delta = emb.filter(F.col("vec_id") % _IDXM_MOD >= _IDXM_BASE)
    cents = sim.ivf_centroids_portable(base)
    d = sim.as_double_vectors(delta).select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.col("embedding").alias("dv"),
    )
    cent_cos = (
        sim._dot(F.col("dv"), F.col("centroid"))
        / sim._norm(F.col("dv"))
        / sim._norm(F.col("centroid"))
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.desc("cc"), F.asc("label")
    )
    assigned = (
        d.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "own_label", F.col("label"), cent_cos.alias("cc")
        )
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "own_label", F.col("label").alias("cell"))
    )
    nb = base.groupBy(F.col("label").alias("cell")).agg(
        F.count("*").cast("long").alias("n_base")
    )
    nd = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_delta"),
        F.sum(
            F.when(F.col("own_label") != F.col("cell"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_crossed"),
    )
    joined = nb.join(nd, "cell", "left").select(
        "cell",
        "n_base",
        F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
        F.coalesce("n_crossed", F.lit(0)).cast("long").alias("n_crossed"),
    )
    joined = joined.localCheckpoint(eager=False)  # totals + report
    tot = joined.agg(
        F.sum("n_delta").cast("long").alias("d_tot"),
        F.sum("n_base").cast("long").alias("b_tot"),
    )
    report = joined.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_base",
        "n_delta",
        "n_crossed",
        (
            F.floor(
                F.col("n_delta") * F.lit(1000000.0) / F.col("n_base")
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("growth"),
        (
            F.col("n_delta") * F.col("b_tot")
            > 2 * F.col("d_tot") * F.col("n_base")
        ).alias("retrain_flag"),
    )
    return base, assigned, report


sim_index_maintenance.__doc__ = sim_index_maintenance.__doc__.format(
    m=_IDXM_MOD, b=_IDXM_BASE
)


# ---------------------------------------------------------------------------
# corpus_soft_dedup_weights — soft deduplication (r6q wave)
# ---------------------------------------------------------------------------


def _soft_dedup_oracle() -> str:
    return f"""
    WITH RECURSIVE {_DUP_REACH_SQL},
    cc AS (SELECT node AS doc_id, MIN(m) AS cluster_id
           FROM reach GROUP BY node),
    csize AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
        FROM cc GROUP BY 1),
    wts AS (
        SELECT d.doc_id, d.source,
               CASE WHEN csize.size IS NULL THEN 1000000
                    ELSE CAST(FLOOR(1000000.0e0 / csize.size + 0.5e0)
                              AS BIGINT) END AS wq,
               CAST(cc.doc_id IS NOT NULL AS INT) AS clustered
        FROM documents d
        LEFT JOIN cc ON cc.doc_id = d.doc_id
        LEFT JOIN csize ON csize.cluster_id = cc.cluster_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(clustered) AS BIGINT) AS n_clustered,
           FLOOR(CAST(SUM(wq) AS DOUBLE) / 1000000.0e0 * 10000.0e0
                 + 0.5e0) / 10000.0e0 AS effective_docs,
           FLOOR((1.0e0 - CAST(SUM(wq) AS DOUBLE) / 1000000.0e0
                          / COUNT(*)) * 10000.0e0 + 0.5e0) / 10000.0e0
               AS dedup_discount
    FROM wts
    GROUP BY source
    ORDER BY source
    """


@query("corpus_soft_dedup_weights", oracle=_soft_dedup_oracle())
def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tier — SOFT DEDUPLICATION: instead of hard-pruning
    near-duplicate clusters to one representative (dedup_keep_canonical),
    every document keeps weight 1/|its cluster| (unclustered docs keep
    1.0) — the sampling-weight formulation several production LLM
    pipelines prefer because it preserves natural duplication signal
    (a document repeated across the web IS more canonical) while
    capping any single text's gradient share. Output is the per-source
    curation report: raw docs, clustered docs, EFFECTIVE docs
    (Σ weights — the number that feeds corpus_mix_weights instead of
    the raw count), and the dedup discount 1 − eff/raw.

    Composes the session-cached connected-components relation
    (operators/dedup.connected_components via corpus_dup_clusters —
    built once, shared with dedup_clusters/dedup_keep_canonical/
    corpus_dedup_rate); the oracle recomputes the clusters with the
    recursive-closure CTE and the weights in exact micro-units
    (quantized BEFORE summing — order-free).

    100 TB: weights are a broadcast-sized |clusters| relation joined
    onto doc-grain rows; the report is source-cardinality. The CC
    relation's own scale story is dedup_clusters' (pointer-jumping,
    bounded rounds)."""
    docs = load_table(spark, sf_dir, "documents")
    cc = corpus_dup_clusters(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    csize = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("size")
    )
    wts = (
        docs.select("doc_id", "source")
        .join(F.broadcast(cc), "doc_id", "left")
        .join(F.broadcast(csize), "cluster_id", "left")
        .select(
            "source",
            F.when(F.col("size").isNull(), F.lit(1000000).cast("long"))
            .otherwise(
                F.floor(F.lit(1000000.0) / F.col("size") + F.lit(0.5))
                .cast("long")
            )
            .alias("wq"),
            F.col("cluster_id").isNotNull().cast("int").alias("clustered"),
        )
    )
    return (
        wts.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("clustered").cast("long").alias("n_clustered"),
            (
                F.floor(
                    F.sum("wq").cast("double")
                    / F.lit(1000000.0)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("effective_docs"),
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - F.sum("wq").cast("double")
                        / F.lit(1000000.0)
                        / F.count("*")
                    )
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("dedup_discount"),
        )
        .orderBy("source")
    )
