"""Flagship LLM-pipeline composite: end-to-end training-corpus curation,
plus event interval joins (funnel analytics / stream-stream join shape).

`corpus_curation` chains the text-quality filter and near-dup removal
into the single artifact an LLM data pipeline actually ships — the
curated document set — with the whole chain oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn
from gcp_de_data_pipeline_cc_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_overlap_sql,
)
from gcp_de_data_pipeline_cc_spark.operators.text import tokens_col
from gcp_de_data_pipeline_cc_spark.plans.registry import query

MIN_DISTINCT_RATIO = 0.35
MIN_TOKENS = 20
NEAR_DUP_JACCARD = 0.5

#: near-dup stage implementations for curate_corpus — both return
#: (doc_a, doc_b, jaccard) pairs above threshold with doc_a < doc_b
_NEAR_DUP_STAGES = {
    "exact": ngram_jaccard_pairs,
    "minhash": minhash_lsh_pairs,
}


def curate_corpus(
    docs: DataFrame,
    near_dup: str = "exact",
    min_distinct_ratio: float = MIN_DISTINCT_RATIO,
    min_tokens: int = MIN_TOKENS,
    threshold: float = NEAR_DUP_JACCARD,
) -> DataFrame:
    """Quality filter → near-dup removal → curated set, with the near-dup
    stage a PARAMETER: ``'exact'`` (shingle-join exact Jaccard — the
    correctness baseline) or ``'minhash'`` (MinHash+LSH candidates
    verified with exact Jaccard — the 100 TB plan, where the banded
    bucket join bounds candidate pairs instead of Σ|bucket|² exact
    shingle groups). Both stages share the (doc_a, doc_b, jaccard)
    interface, so the swap the r2 docstring promised is now an argument;
    tests assert the two modes' curated sets agree on the fixture corpus.
    """
    if near_dup not in _NEAR_DUP_STAGES:
        raise ValueError(f"near_dup must be one of {sorted(_NEAR_DUP_STAGES)}")
    toks = tokens_col(F.col("text"))
    q = docs.select(
        "doc_id", "lang", "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("dr"),
    )
    quality_pass = q.filter(
        (F.col("dr") >= min_distinct_ratio) & (F.col("n_tokens") >= min_tokens)
    )
    pairs = _NEAR_DUP_STAGES[near_dup](
        quality_pass.select("doc_id", "text"), threshold=threshold
    )
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        quality_pass.join(dropped, "doc_id", "left_anti")
        .select(
            "doc_id", "lang", "n_tokens",
            roundn(F.col("dr"), 4).alias("distinct_ratio"),
        )
    )


@query(
    "corpus_curation",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(t) AS INT) AS n_tokens,
               len(list_distinct(t)) / len(t) AS dr
        FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t
              FROM documents)
    ),
    quality_pass AS (
        SELECT * FROM q
        WHERE dr >= {MIN_DISTINCT_RATIO} AND n_tokens >= {MIN_TOKENS}
    ),
    {shingle_overlap_sql(src="quality_pass", inter="pairs")},
    dropped AS (
        SELECT DISTINCT doc_b FROM pairs
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
        WHERE n_both / (ca.n_sh + cb.n_sh - n_both) >= {NEAR_DUP_JACCARD}
    )
    SELECT doc_id, lang, n_tokens,
           FLOOR(dr * 10000.0 + 0.5) / 10000.0 AS distinct_ratio
    FROM quality_pass
    WHERE doc_id NOT IN (SELECT doc_b FROM dropped)
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: quality filter (type-token
    ratio + length) → exact n-gram near-dup removal keeping the lowest
    doc_id of each duplicate cluster edge → curated set.

    This is the composition the LLM-data extension exists for; every
    stage is the scalable plan (narrow quality signals, shingle-join
    dedup, anti-join removal) and the whole chain hash-matches the SQL
    oracle. The 100 TB swap (exact Jaccard → MinHash+LSH) is
    :func:`curate_corpus`'s ``near_dup`` argument; this registered key
    runs the exact mode because the oracle is exact-Jaccard SQL.
    """
    return curate_corpus(load_table(spark, sf_dir, "documents"),
                         near_dup="exact")


@query(
    "join_interval_events",
    oracle="""
    SELECT s.event_id AS signup_id,
           s.user_id,
           COUNT(p.event_id) AS n_purchases_1h
    FROM events s
    LEFT JOIN events p
      ON s.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id, s.user_id
    """,
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (funnel: purchases within 1 h of each
    signup). Executes as a user-keyed join with the time-range predicate
    in the merge — and the identical condition runs as a watermarked
    stream-stream join (tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("s_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    cond = (
        (s.user_id == p.p_user)
        & (p.p_ts > s.s_ts)
        & (p.p_ts <= s.s_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        s.join(p, cond, "left")
        .groupBy("signup_id", "user_id")
        .agg(F.count("p_id").alias("n_purchases_1h"))
    )
