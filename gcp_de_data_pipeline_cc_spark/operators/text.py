"""Text-analysis operators for LLM training-data pipelines (op C6 + the
extension mandate: language-ID, quality scoring, token counting, document
fingerprinting).

Everything here is built from Catalyst-native expressions — split,
higher-order array functions, hashes — so the hot path stays inside
whole-stage codegen with zero Python-boundary crossings. Per-document
derivations (tokens, shingles, fingerprints) are *narrow* (no shuffle);
only corpus-level statistics aggregate.

Scale notes:
- shingling via `transform(sequence(...))` materializes the shingle array
  per row without exploding — explode only where a join/groupBy over
  shingles follows;
- fingerprints use `array_min` over hashed shingles (a 1-permutation
  MinHash / winnowing-style signature) — narrow, no shuffle;
- the rolling hash keeps its accumulator under 2^31 via pmod so ANSI-mode
  arithmetic can never overflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: minimal stopword list shared with SQL oracles
STOPWORDS = ("the", "a")

#: 2^31-1 (prime) — keeps hash arithmetic inside long range under ANSI
MERSENNE_31 = 2_147_483_647


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (documents are single-space word soup)."""
    return F.split(text, " ")


def shingles_col(toks: Column, k: int = 3) -> Column:
    """k-gram shingles as an array column — guard with size(toks) >= k."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )


#: the DuckDB twin of ``shingles_col(t, 3)`` over a token list ``t``
SHINGLES_SQL = (
    "list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


def quality_columns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: type-token ratio, stopword ratio, average
    token length, and a composite score — the standard cheap pre-filters
    an LLM data pipeline applies before expensive dedup/classify stages."""
    t = tokens_col(F.col(text_col))
    d = docs.withColumn("toks", t)
    n = F.size("toks")
    distinct_ratio = F.size(F.array_distinct("toks")) / n
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS))) / n
    )
    avg_len = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))) / n
    return d.select(
        docs.columns[0],
        n.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
        (
            0.4 * distinct_ratio
            + 0.3 * (F.lit(1.0) - stop_ratio)
            + 0.3 * F.least(n / F.lit(100.0), F.lit(1.0))
        ).alias("quality_score"),
    )


def min_shingle_fingerprint(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Document fingerprint = min(md5(shingle)) — a 1-permutation MinHash
    (winnowing-family) signature. Narrow: array_min over a transformed
    array, no explode/shuffle; equal fingerprints are near-dup candidates.
    """
    toks = tokens_col(F.col(text_col))
    d = docs.withColumn("toks", toks).filter(F.size("toks") >= k)
    fp = F.array_min(F.transform(shingles_col(F.col("toks"), k), F.md5))
    return d.select(docs.columns[0], fp.alias("fingerprint"))


def portable_token_hash(tok) -> Column:
    """Engine-portable polynomial token hash: left fold of
    ``h' = (131·h + codepoint) mod (2^31−1)`` over the token's
    characters — the identical arithmetic is expressible in any engine
    with list folds (DuckDB: list_reduce over unicode()), which is what
    upgrades the rolling fingerprint from rows-only to oracle-paired.
    At production scale swap in ``xxhash64(tok)`` (one JVM intrinsic vs
    a per-char fold) — the fingerprint semantics don't change, only the
    cross-engine verifiability."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda a, c: F.pmod(a * 131 + F.ascii(c), F.lit(MERSENNE_31)),
    )


def rolling_hash_fingerprint(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Polynomial rolling hash over the token stream (order-sensitive —
    unlike the min-shingle signature, permuted documents hash apart).

    acc' = (31·acc + h(token)) mod (2^31-1), evaluated with `aggregate`
    entirely JVM-side; h is the portable per-char polynomial
    (portable_token_hash), so the whole fingerprint is exact integer
    arithmetic any engine reproduces bit-for-bit.
    """
    toks = tokens_col(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(
            acc * 31 + portable_token_hash(x), F.lit(MERSENNE_31)
        ),
    )
    return docs.select(docs.columns[0], fp.alias("rolling_fp"))
