"""Corpus statistics wave: character-entropy and readability scoring.

Extends the text-analysis tier (plans/llm.py — tokens/quality/langid/
fingerprint) with the two remaining quality signals a training-data
curation pass computes per document: character-level Shannon entropy
(gibberish / compression-artifact detector) and surface readability
ratios (words per sentence, chars per word).

Both engines split text identically only when empties are filtered
explicitly — Java ``split`` and DuckDB ``regexp_split_to_array`` differ
on trailing-empty retention, so every split here is wrapped in a
non-empty filter before counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table, shared
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# r10 session-shared quality signals (catalog.shared): text_entropy and
# text_repetition are consumed verbatim by quality_composite_score (and
# their own registry keys), so each signal relation is built once per
# (session, warehouse) and checkpointed.  Under the session's AQE the
# localCheckpoint(eager=False) call runs the signal's shuffle stages
# right away, in the plan build of whichever key asks first; nothing is
# persisted across runs.
# ---------------------------------------------------------------------------


@query(
    "text_entropy",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, UNNEST(string_split(text, '')) AS ch
        FROM documents),
    freq AS (
        SELECT doc_id, ch, COUNT(*) AS cnt
        FROM chars WHERE ch <> '' GROUP BY 1, 2),
    tot AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars_split,
               CAST(COUNT(*) AS INT) AS n_distinct_chars
        FROM freq GROUP BY 1)
    SELECT f.doc_id, t.n_distinct_chars,
           {sql_roundn(
               "-SUM((f.cnt * 1.0 / t.n_chars_split)"
               " * log2(f.cnt * 1.0 / t.n_chars_split))", 6)} AS entropy
    FROM freq f JOIN tot t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id, t.n_distinct_chars
    """,
)
@shared
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document: explode characters,
    count per (doc, char), fold -Σ p·log2 p. Low entropy flags repeated-
    character junk; implausibly high entropy flags binary-in-text. The
    explode shuffles one row per character — at 100 TB prefer the
    narrow variant (aggregate over a fixed alphabet with higher-order
    functions); this formulation is the exact-alphabet reference.
    Doc-char counts are exact integers; only the final fold is float,
    ≤~100 terms per doc, rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    # r10: the r9 fan_out here was reverted — it added 4 exchanges
    # to the plan for a paired gain (~0.1-0.2 s) inside the host
    # noise band, against the same revert discipline that dropped
    # the text_perplexity / fn_surrogate_key fan_outs (r9 verdict
    # #5)
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    tot = freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_split"),
        F.count("*").cast("int").alias("n_distinct_chars"),
    )
    p = F.col("cnt") / F.col("n_chars_split")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "n_distinct_chars")
        .agg(roundn(-F.sum(p * F.log2(p)), 6).alias("entropy"))
        .localCheckpoint(eager=False)
    )

@query(
    "text_readability",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_words,
               CAST(len(list_filter(regexp_split_to_array(text, '[.!?]'),
                                    x -> trim(x) <> '')) AS BIGINT)
                   AS n_sentences,
               CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_letters
        FROM documents)
    SELECT doc_id, n_words, n_sentences,
           {sql_roundn("n_words * 1.0 / GREATEST(n_sentences, 1)", 4)}
               AS words_per_sentence,
           {sql_roundn("n_letters * 1.0 / GREATEST(n_words, 1)", 4)}
               AS chars_per_word
    FROM d
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface readability ratios per document: word count, sentence
    count (non-empty [.!?] segments), mean words/sentence and
    chars/word — the raw inputs of Flesch-style scores and a standard
    quality-filter feature. Pure codegen projections over higher-order
    size/filter — no explode, no shuffle, no UDF: the per-row narrow
    shape that scales linearly."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(F.split("text", r"\s+"), lambda x: x != "")
    ).cast("bigint")
    n_sentences = F.size(
        F.filter(F.split("text", r"[.!?]"), lambda x: F.trim(x) != "")
    ).cast("bigint")
    n_letters = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "bigint"
    )
    d = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_letters.alias("n_letters"),
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        roundn(
            F.col("n_words") * 1.0 / F.greatest("n_sentences", F.lit(1)), 4
        ).alias("words_per_sentence"),
        roundn(
            F.col("n_letters") * 1.0 / F.greatest("n_words", F.lit(1)), 4
        ).alias("chars_per_word"),
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM w WHERE len(t) >= 2),
    cnt AS (
        SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(n) AS BIGINT) AS top_count,
           {sql_roundn("MAX(n) * 1.0e0 / SUM(n)", 4)} AS repetition_ratio,
           {sql_roundn("COUNT(*) * 1.0e0 / SUM(n)", 4)} AS distinct_ratio
    FROM cnt
    GROUP BY doc_id
    """,
)
@shared
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram quality signal (the Gopher-style repetition
    filter): per document, the share of all bigrams taken by the single
    most frequent bigram, plus the distinct-bigram ratio. Boilerplate,
    template spam, and decoding-loop junk score high on repetition_ratio
    / low on distinct_ratio; curation gates on both.

    100 TB: one explode (row per bigram) + two narrow aggregations keyed
    by doc_id — the same shuffle shape as text_tokens. Bigram strings
    never leave the (doc_id-keyed) aggregation, so state per doc is
    bounded by its distinct-bigram count.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r10: r9's marginal fan_out reverted (r9 verdict #5 — plan +4
    # exchanges for a sub-band paired gain; see text_entropy note)
    base = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1),"
                   " i -> concat_ws(' ', t[i-1], t[i]))")
        ).alias("bigram"),
    )
    cnt = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("n"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.count("*").alias("n_distinct"),
            F.max("n").alias("top_count"),
            roundn(F.max("n") / F.sum("n"), 4).alias("repetition_ratio"),
            roundn(F.count("*") / F.sum("n"), 4).alias("distinct_ratio"),
        )
        .localCheckpoint(eager=False)
    )

@query(
    "corpus_mix_weights",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source)
    SELECT source, n_tokens, n_docs,
           {sql_roundn("n_tokens * 1.0e0 / SUM(n_tokens) OVER ()", 6)}
               AS token_share,
           {sql_roundn("POW(n_tokens, 0.5e0)"
                       " / SUM(POW(n_tokens, 0.5e0)) OVER ()", 6)}
               AS mix_weight
    FROM tok
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights for training-data sampling: per-source token
    counts, the raw token share, and a temperature-smoothed sampling
    weight (share^0.5 renormalized — the standard alpha-sampling that
    up-weights small domains so the mixture isn't dominated by the
    largest crawl).

    100 TB: token counting is one narrow scan + groupBy(source); the
    normalization windows run over |sources| rows (a handful), so the
    unpartitioned window is a no-risk single-task step on aggregated
    state, never on raw data.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.count("*").alias("n_docs"),
    )
    every = Window.partitionBy()
    w_tok = F.sum("n_tokens").over(every)
    w_pow = F.sum(F.pow("n_tokens", F.lit(0.5))).over(every)
    return tok.select(
        "source", "n_tokens", "n_docs",
        roundn(F.col("n_tokens") / w_tok, 6).alias("token_share"),
        roundn(F.pow("n_tokens", F.lit(0.5)) / w_pow, 6).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# feature-hashing collision audit (r4f wave)
# ---------------------------------------------------------------------------

#: hashing-trick table size (buckets)
_FH_B = 256

_FH_CHARFOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(tok, ''), "
    "c -> CAST(unicode(c) AS BIGINT))), "
    "(a, b) -> (a * 131 + b) % 2147483647)"
)

_FH_ORACLE = f"""
WITH toks AS (
    SELECT DISTINCT UNNEST(string_split(text, ' ')) AS tok
    FROM documents),
h AS (
    SELECT tok, {_FH_CHARFOLD} % {_FH_B} AS bucket
    FROM toks WHERE tok <> ''),
per_b AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS load
    FROM h GROUP BY bucket)
SELECT CAST({_FH_B} AS BIGINT) AS n_buckets,
       CAST(SUM(load) AS BIGINT) AS n_distinct_tokens,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(MAX(load) AS BIGINT) AS max_load,
       CAST(SUM(load - 1) AS BIGINT) AS n_collided_tokens,
       {sql_roundn("SUM(load - 1) * 1.0e0 / SUM(load)", 6)}
           AS collision_rate
FROM per_b
"""


@query("text_feature_hashing", oracle=_FH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — FEATURE-HASHING (hashing-trick) collision audit:
    the corpus vocabulary routed into a {b}-bucket feature table by the
    portable hash, reporting buckets used, the maximum bucket load, and
    the collision rate (tokens sharing a bucket with an earlier token —
    the features the model cannot tell apart). The table every
    Vowpal-style / hashed-embedding pipeline needs before choosing its
    table size: collision_rate ≈ 1 − B·(1−(1−1/B)^V)/V for vocabulary
    V, and the audit measures the actual value for the actual hash —
    the dedup_lsh_calibration idea applied to feature hashing.

    Exactness: all counts exact ints over the DISTINCT vocabulary; the
    rate is one identical-tree division. The structural law
    n_distinct − buckets_used = n_collided is tested, as is the
    pigeonhole bound.

    100 TB: vocabulary-sized after one distinct (the shuffle);
    bucketing is a narrow per-row fold; the audit is one aggregate."""
    from gcp_de_data_pipeline_cc_spark.operators.text import (
        portable_token_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    h = toks.select(
        F.pmod(portable_token_hash(F.col("tok")), F.lit(_FH_B)).alias(
            "bucket"
        )
    )
    per_b = h.groupBy("bucket").agg(F.count("*").alias("load"))
    return per_b.agg(
        F.lit(_FH_B).cast("long").alias("n_buckets"),
        F.sum("load").alias("n_distinct_tokens"),
        F.count("*").alias("buckets_used"),
        F.max("load").alias("max_load"),
        F.sum(F.col("load") - 1).alias("n_collided_tokens"),
        roundn(
            F.sum(F.col("load") - 1) * F.lit(1.0) / F.sum("load"), 6
        ).alias("collision_rate"),
    )


text_feature_hashing.__doc__ = text_feature_hashing.__doc__.format(b=_FH_B)


# ---------------------------------------------------------------------------
# Hamilton token-budget apportionment (r4i wave)
# ---------------------------------------------------------------------------

#: training-mix token budget to apportion across sources
_APPORTION_B = 1_000_000

_APPORTION_ORACLE = f"""
WITH s AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
    FROM documents GROUP BY source),
t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot FROM s),
q AS (
    SELECT s.source, s.tokens,
           ({_APPORTION_B} * s.tokens) // t.tot AS base,
           ({_APPORTION_B} * s.tokens) % t.tot AS rem
    FROM s, t),
r AS (
    SELECT CAST({_APPORTION_B} AS BIGINT) - SUM(base) AS n_extra FROM q),
rk AS (
    SELECT source, tokens, base, rem,
           ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk
    FROM q)
SELECT rk.source, rk.tokens, CAST(rk.base AS BIGINT) AS base_alloc,
       CAST(CASE WHEN rk.rnk <= r.n_extra THEN 1 ELSE 0 END AS BIGINT)
           AS extra,
       CAST(rk.base + CASE WHEN rk.rnk <= r.n_extra THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens,
       {sql_roundn(
           f"(rk.base + CASE WHEN rk.rnk <= r.n_extra THEN 1 ELSE 0 END)"
           f" * 1.0e0 / {_APPORTION_B}", 6
       )} AS alloc_share
FROM rk, r
ORDER BY rk.source
"""


@query("corpus_apportion_budget", oracle=_APPORTION_ORACLE)
def corpus_apportion_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — HAMILTON (largest-remainder) apportionment of an
    integer token budget ({b:,}) across corpus sources proportionally
    to their token mass: base_i = ⌊B·T_i/ΣT⌋, then the leftover seats
    go to the largest remainders (B·T_i mod ΣT, ties on source name).
    This is what turns corpus_mix_weights' REAL-valued mix into the
    integer per-source sample counts a data loader can actually
    execute — naive independent rounding over- or under-shoots the
    budget; Hamilton conserves it EXACTLY (Σ alloc = B, the tested
    law) and each source is within 1 token of its exact quota (tested:
    |alloc·ΣT − B·T_i| < ΣT).

    Exactness: all quotas, remainders, and the seat count are exact
    int64 (B·T_i ≤ 10⁶·10⁹ — bounded); ranking is integer/lexicographic.

    100 TB: the census is one map-side groupBy; apportionment runs on
    the source-cardinality table (dozens of rows) with one-row
    broadcasts for the total and the seat count."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("tokens")
    )
    s = s.localCheckpoint(eager=False)  # quotas + total consumers
    t = s.agg(F.sum("tokens").alias("tot"))
    b = F.lit(_APPORTION_B).cast("long")
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        F.expr(f"CAST(({_APPORTION_B} * tokens) DIV tot AS LONG)").alias(
            "base"
        ),
        F.pmod(b * F.col("tokens"), F.col("tot")).alias("rem"),
    )
    q = q.localCheckpoint(eager=False)  # seats + ranking consumers
    r = q.agg((b - F.sum("base")).alias("n_extra"))
    rk = q.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    )
    extra = F.when(F.col("rnk") <= F.col("n_extra"), 1).otherwise(0)
    return (
        rk.crossJoin(F.broadcast(r))
        .select(
            "source",
            "tokens",
            F.col("base").alias("base_alloc"),
            extra.cast("long").alias("extra"),
            (F.col("base") + extra).cast("long").alias("alloc_tokens"),
            roundn(
                (F.col("base") + extra) * F.lit(1.0) / F.lit(float(_APPORTION_B)),
                6,
            ).alias("alloc_share"),
        )
        .orderBy("source")
    )


corpus_apportion_budget.__doc__ = corpus_apportion_budget.__doc__.format(
    b=_APPORTION_B
)


# ---------------------------------------------------------------------------
# mixture epochs / repetition risk (r4 wave)
# ---------------------------------------------------------------------------

#: training budget in tokens for the epoch readout — deliberately LARGER
#: than the corpus so repetition is visible (the data-constrained regime)
_EPOCH_BUDGET = 5_000_000

#: past this many epochs over a source, returns diminish sharply
#: (public data-constrained-scaling rule of thumb)
_EPOCH_RISK = 4


@query(
    "train_mixture_epochs",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot FROM s),
    alloc AS (
        SELECT s.source, s.tokens,
               ({_EPOCH_BUDGET} * s.tokens) // t.tot AS planned_tokens
        FROM s, t)
    SELECT source, tokens, CAST(planned_tokens AS BIGINT) AS planned_tokens,
           CAST(planned_tokens // tokens AS BIGINT) AS full_epochs,
           FLOOR(planned_tokens * 1.0e0 / tokens * 10000.0 + 0.5) / 10000.0
               AS epochs,
           planned_tokens > {_EPOCH_RISK} * tokens AS repetition_risk
    FROM alloc
    ORDER BY source
    """,
)
def train_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — EPOCH/repetition readout of a token budget
    ({b:,}) spread proportionally over the corpus sources: how many
    times each source would be repeated to meet its allocation, with a
    risk flag past {r} epochs (the public data-constrained-scaling rule
    of thumb: repeating data beyond a few epochs yields rapidly
    diminishing returns, so a flagged source needs MORE DATA, not more
    budget).  The planning twin of corpus_apportion_budget: that key
    says how many tokens each source GETS, this one says what that
    allocation COSTS in repetition.

    Exactness: token counts and the proportional allocation are exact
    int64 (integer ``DIV``); only the fractional epoch count divides,
    identical-tree, 4-dp floor-rounded; the risk verdict is an integer
    cross-multiplication (planned > 4·tokens), never a float compare.

    100 TB: one map-side token census; everything downstream is
    source-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    t = s.agg(F.sum("tokens").alias("tot"))
    alloc = s.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        F.expr(f"({_EPOCH_BUDGET} * tokens) DIV tot").alias("planned_tokens"),
    )
    return alloc.select(
        "source",
        "tokens",
        "planned_tokens",
        F.expr("planned_tokens DIV tokens").alias("full_epochs"),
        roundn(F.col("planned_tokens") * F.lit(1.0) / F.col("tokens"), 4)
        .alias("epochs"),
        (F.col("planned_tokens") > _EPOCH_RISK * F.col("tokens")).alias(
            "repetition_risk"
        ),
    ).orderBy("source")


train_mixture_epochs.__doc__ = train_mixture_epochs.__doc__.format(
    b=_EPOCH_BUDGET, r=_EPOCH_RISK
)


# ---------------------------------------------------------------------------
# pass@k eval estimator (r4 wave)
# ---------------------------------------------------------------------------

#: samples drawn per task and the k values reported
_PASSK_N = 10
_PASSK_KS = (1, 5)


def _passk_oracle() -> str:
    # unbiased pass@k = 1 − C(n−c, k)/C(n, k), computed as the exact
    # integer-product form 1 − Π_{i=0..k−1} (n−c−i)/(n−i): numerator and
    # denominator are exact int64 products (n ≤ 10), ONE division each
    ks_rows = []
    for k in _PASSK_KS:
        num = " * ".join(f"GREATEST(n - c - {i}, 0)" for i in range(k))
        den = " * ".join(f"(n - {i})" for i in range(k))
        ks_rows.append(
            f"SELECT task_id, n, c, CAST({k} AS INT) AS k,"
            f" FLOOR((1.0e0 - ({num}) * 1.0e0 / ({den})) * 1000000.0 + 0.5)"
            f" / 1000000.0 AS pass_at_k FROM per_task"
        )
    union = " UNION ALL ".join(ks_rows)
    return f"""
    WITH attempts AS (
        SELECT o_orderkey % 200 AS task_id,
               SUBSTR(md5('attempt:' || CAST(o_orderkey AS VARCHAR)), 1, 2)
                   < '40' AS success
        FROM orders),
    per_task AS (
        SELECT task_id,
               CAST(LEAST(COUNT(*), {_PASSK_N}) AS BIGINT) AS n,
               CAST(LEAST(SUM(CASE WHEN success THEN 1 ELSE 0 END),
                          LEAST(COUNT(*), {_PASSK_N})) AS BIGINT) AS c
        FROM (
            SELECT task_id, success,
                   ROW_NUMBER() OVER (PARTITION BY task_id
                                      ORDER BY md5('ord:' ||
                                          CAST(task_id AS VARCHAR) || ':' ||
                                          CAST(success AS VARCHAR)),
                                          success) AS rn
            FROM attempts) a
        WHERE rn <= {_PASSK_N}
        GROUP BY task_id)
    SELECT task_id, n, c, k, pass_at_k FROM ({union})
    ORDER BY task_id, k
    """


@query("eval_pass_at_k", oracle=_passk_oracle())
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-harness staple — the UNBIASED pass@k estimator (Chen et al.,
    public HumanEval methodology): per task with n sampled attempts and
    c successes, pass@k = 1 − C(n−c,k)/C(n,k), computed in the
    numerically-stable integer-product form 1 − Π(n−c−i)/(n−i).  The
    attempts relation is derived deterministically from orders (task =
    orderkey mod 200, success = an md5-prefix coin) — the same shape a
    real eval log lands as: (task_id, attempt, success).

    Exactness: n and c are exact int64; for k ≤ n ≤ {n} the numerator /
    denominator products are exact integers, ONE division each,
    identical-tree, 6-dp floor-rounded; GREATEST(n−c−i, 0) zeroes the
    product exactly when fewer than k failures exist (pass@k = 1).

    100 TB: one map-side per-task aggregate over the eval log; the
    estimator is per-row scalar math on a task-cardinality table."""
    orders = load_table(spark, sf_dir, "orders")
    attempts = orders.select(
        (F.col("o_orderkey") % 200).alias("task_id"),
        (
            F.substring(
                F.md5(F.concat(F.lit("attempt:"), F.col("o_orderkey").cast("string"))),
                1,
                2,
            )
            < "40"
        ).alias("success"),
    )
    w = Window.partitionBy("task_id").orderBy(
        F.md5(
            F.concat(
                F.lit("ord:"),
                F.col("task_id").cast("string"),
                F.lit(":"),
                F.col("success").cast("string"),
            )
        ),
        "success",
    )
    per_task = (
        attempts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PASSK_N)
        .groupBy("task_id")
        .agg(
            F.least(F.count("*"), F.lit(_PASSK_N)).alias("n"),
            F.least(
                F.sum(F.when(F.col("success"), 1).otherwise(0)),
                F.least(F.count("*"), F.lit(_PASSK_N)),
            ).alias("c"),
        )
    )
    per_task = per_task.localCheckpoint(eager=False)  # one branch per k
    outs = []
    for k in _PASSK_KS:
        num = None
        den = None
        for i in range(k):
            t_num = F.greatest(F.col("n") - F.col("c") - i, F.lit(0))
            t_den = F.col("n") - i
            num = t_num if num is None else num * t_num
            den = t_den if den is None else den * t_den
        outs.append(
            per_task.select(
                "task_id",
                "n",
                "c",
                F.lit(k).cast("int").alias("k"),
                roundn(
                    F.lit(1.0) - num * F.lit(1.0) / den, 6
                ).alias("pass_at_k"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("task_id", "k")


# ---------------------------------------------------------------------------
# bootstrap confidence interval (r4 wave)
# ---------------------------------------------------------------------------

#: bootstrap replicates and the CI band
_BOOT_B = 200
_BOOT_LO, _BOOT_HI = 5, 195  # exact order-stat indices for a 95% band


@query(
    "eval_bootstrap_ci",
    oracle=f"""
    WITH tasks AS (
        SELECT o_orderkey % 200 AS task_id,
               CAST(MAX(CASE WHEN SUBSTR(md5('attempt:' ||
                        CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'
                    THEN 1 ELSE 0 END) AS BIGINT) AS solved
        FROM orders GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tasks),
    draws AS (
        SELECT b.b, t.solved
        FROM (SELECT UNNEST(range(1, {_BOOT_B} + 1)) AS b) b
        CROSS JOIN (SELECT UNNEST(range(0, (SELECT n FROM n))) AS i) i
        JOIN tasks t
          ON t.task_id = CAST(CAST('0x' || SUBSTR(md5('boot:' ||
                 CAST(b.b AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)),
                 1, 12) AS BIGINT) AS BIGINT) % (SELECT n FROM n)),
    reps AS (
        SELECT b, CAST(SUM(solved) AS BIGINT) AS n_solved,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM draws GROUP BY b),
    ranked AS (
        SELECT n_solved, n,
               ROW_NUMBER() OVER (ORDER BY n_solved, b) AS rk
        FROM reps),
    point AS (
        SELECT CAST(SUM(solved) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM tasks)
    SELECT point.n AS n_tasks,
           FLOOR(point.s * 1.0e0 / point.n * 10000.0 + 0.5) / 10000.0
               AS solve_rate,
           CAST({_BOOT_B} AS INT) AS n_replicates,
           FLOOR((SELECT n_solved * 1.0e0 / n FROM ranked
                  WHERE rk = {_BOOT_LO}) * 10000.0 + 0.5) / 10000.0
               AS ci_lo,
           FLOOR((SELECT n_solved * 1.0e0 / n FROM ranked
                  WHERE rk = {_BOOT_HI}) * 10000.0 + 0.5) / 10000.0
               AS ci_hi
    FROM point
    """,
)
def eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-harness staple #3 — BOOTSTRAP 95% CI on the task solve
    rate (beside eval_pass_at_k's point estimate and eval_mrr_ndcg's
    ranking quality): {b} resamples of the task set with replacement,
    replicate solve rates, and the exact order-statistic band
    (replicates #{lo} and #{hi}).  The error bar every eval report
    needs before claiming one model beats another.

    Resampling is SEEDED (md5(b:i) → task index), so the CI is
    deterministic and bit-reproducible on both engines — the
    privacy_dp_count draw discipline; a production harness swaps a
    PRNG, the query SHAPE (replicate explode → per-replicate
    aggregate → order-stat band) is what carries.

    Exactness: solved flags, draw indices, and replicate sums are
    exact int64; the two band endpoints are exact order statistics
    (rank ties broken by replicate id), with ONE division each at 4 dp.

    100 TB: the eval log collapses to task-cardinality first; the
    explode is B×n_tasks (bounded by the EVAL SET, not the corpus);
    everything after is a {b}-row relation."""
    orders = load_table(spark, sf_dir, "orders")
    tasks = (
        orders.groupBy((F.col("o_orderkey") % 200).alias("task_id"))
        .agg(
            F.max(
                F.when(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("attempt:"),
                                F.col("o_orderkey").cast("string"),
                            )
                        ),
                        1,
                        2,
                    )
                    < "40",
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("solved")
        )
    )
    tasks = tasks.localCheckpoint(eager=False)  # draws + point estimate
    n_df = tasks.agg(F.count("*").alias("n"))
    grid = (
        spark.range(1, _BOOT_B + 1)
        .select(F.col("id").alias("b"))
        .crossJoin(F.broadcast(n_df))
        .select(
            "b", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
            "n",
        )
    )
    idx = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % F.col("n")
    )
    draws = grid.select("b", idx.alias("task_id")).join(tasks, "task_id")
    reps = draws.groupBy("b").agg(
        F.sum("solved").alias("n_solved"), F.count("*").alias("n")
    )
    w = Window.orderBy("n_solved", "b")
    ranked = reps.withColumn("rk", F.row_number().over(w))
    lo = ranked.filter(F.col("rk") == _BOOT_LO).select(
        roundn(F.col("n_solved") * F.lit(1.0) / F.col("n"), 4).alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == _BOOT_HI).select(
        roundn(F.col("n_solved") * F.lit(1.0) / F.col("n"), 4).alias("ci_hi")
    )
    point = tasks.agg(
        F.count("*").alias("n_tasks"),
        roundn(F.sum("solved") * F.lit(1.0) / F.count("*"), 4).alias(
            "solve_rate"
        ),
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_tasks",
            "solve_rate",
            F.lit(_BOOT_B).cast("int").alias("n_replicates"),
            "ci_lo",
            "ci_hi",
        )
    )


eval_bootstrap_ci.__doc__ = eval_bootstrap_ci.__doc__.format(
    b=_BOOT_B, lo=_BOOT_LO, hi=_BOOT_HI
)


# ---------------------------------------------------------------------------
# temperature-scaled mixing weights (r4v wave)
# ---------------------------------------------------------------------------

#: sampling temperature — weights ∝ mass^(1/T); T=2 is the classic
#: multilingual-balancing setting (sqrt scaling), chosen here because
#: x^(1/2) is the one power law computable with the IEEE-exact sqrt
_MIX_T = 2

#: token budget the temperature-scaled mix apportions (Hamilton)
_MIX_B = 1_000_000

_TEMP_MIX_ORACLE = f"""
WITH s AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
    FROM documents GROUP BY source),
w AS (
    SELECT source, tokens,
           CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0e0 + 0.5e0)
                AS BIGINT) AS wq
    FROM s),
t AS (
    SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
           CAST(SUM(wq) AS BIGINT) AS wtot
    FROM w),
q AS (
    SELECT w.source, w.tokens, w.wq,
           ({_MIX_B} * w.wq) // t.wtot AS base,
           ({_MIX_B} * w.wq) % t.wtot AS rem,
           t.tot, t.wtot
    FROM w, t),
r AS (SELECT CAST({_MIX_B} AS BIGINT) - SUM(base) AS n_extra FROM q),
rk AS (
    SELECT q.*, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk
    FROM q)
SELECT rk.source, rk.tokens,
       {sql_roundn("rk.tokens * 1.0e0 / rk.tot", 6)} AS p_raw,
       {sql_roundn("rk.wq * 1.0e0 / rk.wtot", 6)} AS q_temp,
       CAST(rk.base + CASE WHEN rk.rnk <= r.n_extra THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens,
       {sql_roundn(
           "(rk.wq * 1.0e0 / rk.wtot) / (rk.tokens * 1.0e0 / rk.tot)", 6
       )} AS boost
FROM rk, r
ORDER BY rk.source
"""


@query("corpus_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — temperature-scaled source mixing: sampling
    weights ∝ mass^(1/T) with T={t} (the multilingual-corpus balancing
    rule — raw proportional sampling starves small sources, uniform
    over-trains them; T interpolates), then Hamilton-apportions a
    {b:,}-token budget over the SCALED weights so the mix is directly
    executable.  ``boost`` = q_temp/p_raw is the readout: >1 for
    under-represented sources, <1 for dominant ones.

    Exactness: T=2 keeps the power law inside the correctly-rounded
    IEEE sqrt; each scaled weight is floor-quantized to an int64 count
    of 1e-6 units BEFORE any cross-source arithmetic, so totals,
    quotas, and remainders are exact integers (B·wq ≤ 10⁶·~10⁹ —
    bounded); p_raw/q_temp/boost are single divisions quantized at
    1e-6.

    100 TB: the census is one map-side groupBy to source cardinality;
    everything after runs on the dozens-row source table with one-row
    broadcasts — invariant to corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("tokens")
    )
    w = s.select(
        "source",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("wq"),
    )
    w = w.localCheckpoint(eager=False)  # totals + quota consumers
    t = w.agg(
        F.sum("tokens").cast("long").alias("tot"),
        F.sum("wq").cast("long").alias("wtot"),
    )
    b = F.lit(_MIX_B).cast("long")
    q = w.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        "wq",
        F.expr(f"CAST(({_MIX_B} * wq) DIV wtot AS LONG)").alias("base"),
        F.pmod(b * F.col("wq"), F.col("wtot")).alias("rem"),
        "tot",
        "wtot",
    )
    q = q.localCheckpoint(eager=False)  # seats + ranking consumers
    r = q.agg((b - F.sum("base")).alias("n_extra"))
    rk = q.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    )
    extra = F.when(F.col("rnk") <= F.col("n_extra"), 1).otherwise(0)
    p_raw = F.col("tokens") * F.lit(1.0) / F.col("tot").cast("double")
    q_temp = F.col("wq") * F.lit(1.0) / F.col("wtot").cast("double")
    return (
        rk.crossJoin(F.broadcast(r))
        .select(
            "source",
            "tokens",
            roundn(p_raw, 6).alias("p_raw"),
            roundn(q_temp, 6).alias("q_temp"),
            (F.col("base") + extra).cast("long").alias("alloc_tokens"),
            roundn(q_temp / p_raw, 6).alias("boost"),
        )
        .orderBy("source")
    )


corpus_temperature_mix.__doc__ = corpus_temperature_mix.__doc__.format(
    t=_MIX_T, b=_MIX_B
)


# ---------------------------------------------------------------------------
# corpus data card (r5n wave)
# ---------------------------------------------------------------------------


@query(
    "corpus_data_card",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        FROM documents),
    m AS (
        SELECT doc_id, lang, text,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(list_sum(list_transform(toks, w -> length(w)))
                    AS BIGINT) AS sum_len,
               CAST(len(list_filter(toks, w -> w IN ('the', 'a')))
                    AS BIGINT) AS n_stop,
               CAST(len(list_filter(toks,
                        w -> regexp_matches(w, '^[a-z]+$')))
                    AS BIGINT) AS n_alpha
        FROM t),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(quantile_cont(n_tok, 0.5e0) AS DOUBLE)
                   AS median_doc_tokens,
               CAST(SUM(CASE WHEN (n_tok BETWEEN 20 AND 100000)
                              AND 3 * n_tok <= sum_len
                              AND sum_len <= 10 * n_tok
                              AND n_stop >= 2
                              AND 5 * n_alpha >= 4 * n_tok
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass
        FROM m),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
        FROM (SELECT UNNEST(toks) AS tok FROM t)),
    dups AS (
        SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_dup_docs
        FROM (SELECT COUNT(*) AS c FROM t GROUP BY md5(text)
              HAVING COUNT(*) > 1)),
    langs AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM t GROUP BY lang
        ORDER BY n DESC, lang LIMIT 1)
    SELECT b.n_docs, b.n_tokens,
           FLOOR(b.n_tokens * 1.0e0 / b.n_docs * 100.0e0 + 0.5e0)
               / 100.0e0 AS mean_doc_tokens,
           b.median_doc_tokens,
           v.vocab_size,
           FLOOR(v.vocab_size * 1.0e0 / b.n_tokens
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS ttr,
           d.n_dup_docs,
           FLOOR(d.n_dup_docs * 1.0e0 / b.n_docs
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS exact_dup_rate,
           l.lang AS top_lang,
           FLOOR(l.n * 1.0e0 / b.n_docs * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS top_lang_share,
           FLOOR(b.n_gopher_pass * 1.0e0 / b.n_docs
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS gopher_pass_rate
    FROM base b CROSS JOIN vocab v CROSS JOIN dups d CROSS JOIN langs l
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier CAPSTONE — the DATA CARD (datasheet) a corpus
    release ships: one row with the census (docs, tokens, mean/median
    length), the vocabulary size and type-token ratio, the exact-dup
    count and rate, the dominant language and its share, and the
    Gopher hard-rule pass rate — every number a reviewer checks before
    signing off a training-data release, composed from the tier's own
    signal definitions so the card can never drift from the checks
    (the gopher expressions here ARE quality_gopher_rules' rules).

    Exactness: all counts exact int64; the five rates/means are single
    divisions quantized at output; the median is the engines' exact
    percentile over the doc-length domain; top-lang ties break
    lexicographically.

    100 TB: two explode passes (token grain) collapse map-side —
    vocabulary via distinct, everything else pure aggregation; the
    doc-grain relation is scanned once for census + dup-hash + lang
    mode.  The card is the cheap pre-flight before the expensive
    near-dup/decontamination suites run."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).cast("long").alias("n_tok"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("sum_len"),
        F.size(F.filter(toks, lambda w: w.isin("the", "a")))
        .cast("long")
        .alias("n_stop"),
        F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$")))
        .cast("long")
        .alias("n_alpha"),
    )
    m = m.localCheckpoint(eager=False)  # census + dup + lang consumers
    gopher = (
        F.col("n_tok").between(20, 100000)
        & (F.lit(3) * F.col("n_tok") <= F.col("sum_len"))
        & (F.col("sum_len") <= F.lit(10) * F.col("n_tok"))
        & (F.col("n_stop") >= 2)
        & (F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("n_tok"))
    )
    base = m.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.expr("percentile(n_tok, 0.5d)").alias("median_doc_tokens"),
        F.sum(F.when(gopher, 1).otherwise(0)).cast("long").alias(
            "n_gopher_pass"
        ),
    )
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").cast("long").alias("vocab_size"))
    )
    dups = (
        m.groupBy(F.md5("text").alias("h"))
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0))
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    langs = (
        m.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("n").alias("lang_n"))
    )
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(langs))
        .select(
            "n_docs",
            "n_tokens",
            roundn(
                F.col("n_tokens") * F.lit(1.0) / F.col("n_docs").cast("double"),
                2,
            ).alias("mean_doc_tokens"),
            F.col("median_doc_tokens").cast("double").alias(
                "median_doc_tokens"
            ),
            "vocab_size",
            roundn(
                F.col("vocab_size")
                * F.lit(1.0)
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
            "n_dup_docs",
            roundn(
                F.col("n_dup_docs") * F.lit(1.0) / F.col("n_docs").cast("double"),
                6,
            ).alias("exact_dup_rate"),
            "top_lang",
            roundn(
                F.col("lang_n") * F.lit(1.0) / F.col("n_docs").cast("double"),
                6,
            ).alias("top_lang_share"),
            roundn(
                F.col("n_gopher_pass")
                * F.lit(1.0)
                / F.col("n_docs").cast("double"),
                6,
            ).alias("gopher_pass_rate"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_dataset_fingerprint — content-addressed dataset identity
# (r5h wave)
# ---------------------------------------------------------------------------

@query(
    "corpus_dataset_fingerprint",
    oracle="""
    WITH h AS (
        SELECT source,
               CAST(CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
                          || ':' || text), 1, 15) AS BIGINT) AS BIGINT)
                   AS rh,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents),
    per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(bit_xor(rh) AS BIGINT) AS fp
        FROM h GROUP BY source),
    tot AS (
        SELECT '__ALL__' AS source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(bit_xor(rh) AS BIGINT) AS fp
        FROM h)
    SELECT source, n_docs, n_chars,
           lpad(lower(hex(fp)), 16, '0') AS fingerprint
    FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
    ORDER BY source
    """,
)
def corpus_dataset_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus ops — CONTENT-ADDRESSED DATASET FINGERPRINT, the
    reproducibility anchor a training run records in its model card:
    per-source and whole-corpus identity = XOR of per-document
    md5-derived 60-bit hashes over (doc_id, text) + exact doc/char
    censuses.  XOR is the one order-free, overflow-free fold for this
    (associative, commutative, self-inverse): any row added, dropped,
    or edited flips the fingerprint; any reshuffle, repartition, or
    re-read leaves it byte-identical — so two teams can assert they
    trained on the SAME corpus by comparing 16 hex chars, and an
    incremental append's new fingerprint is old XOR delta.

    Exactness: the row hash is the first 15 hex chars of md5 (60 bits
    — inside int64, sign-safe) computed identically in both engines;
    XOR and counts are exact; the fingerprint renders as zero-padded
    hex so the driver's string hash is stable.

    100 TB: one scan, map-side combined XOR/count partials per source —
    the cheapest possible full-corpus integrity pass, and the
    per-source rows let a mixture pipeline pin each component dataset
    independently."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("text"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("rh"),
        F.length("text").cast("long").alias("n_chars"),
    )
    h = h.localCheckpoint(eager=False)  # per-source + total consumers
    per = h.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.bit_xor("rh").cast("long").alias("fp"),
    )
    tot = h.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.bit_xor("rh").cast("long").alias("fp"),
    ).select(F.lit("__ALL__").alias("source"), "n_docs", "n_chars", "fp")
    return (
        per.unionByName(tot)
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.lpad(F.lower(F.hex("fp")), 16, "0").alias("fingerprint"),
        )
        .orderBy("source")
    )
