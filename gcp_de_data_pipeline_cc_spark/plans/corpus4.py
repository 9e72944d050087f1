"""Corpus curation wave 4: boilerplate-line REMOVAL (the rewrite rung),
logistic quality-classifier inference, and the tokenizer fertility audit.

Closes three gaps in the LLM curation tier (plans/llm.py, corpus2/3.py):

- **dedup_lines_rewrite** — corpus2's ``dedup_blocks`` *detects*
  cross-document duplicate blocks (the line-level dedup signal of
  CCNet / RefinedWeb-style crawl pipelines); this is the missing
  *transform*: drop every block that appears in ≥2 distinct documents
  and reassemble each document from its surviving blocks in original
  order. Detection tells you a doc is 40% boilerplate; the rewrite is
  what actually reclaims the other 60% for training instead of
  discarding the whole doc;
- **quality_logistic** — the inference step of a trained quality
  classifier (fastText/logreg-style): a fixed weight vector over cheap
  per-doc features (length, stopword ratio, type-token ratio, mean
  token length) scored through a sigmoid. feature_scale/training_prep
  built the feature plumbing; this is the serving pass every corpus
  actually runs to keep/drop docs;
- **token_fertility** — chars-per-token by (lang, source): the
  tokenizer-efficiency audit. A cell whose fertility is far above the
  corpus norm is the wrong tokenizer for that slice (or mojibake) —
  caught here before GPU time is spent.

Reference parity: extends the staging→curation quality gates of
dags/pipeline_orchestration_dag.py:149-167 from row-level QC to
corpus-level curation, per the extension mandate.

Float discipline: the sigmoid/ratio expression trees are built from the
identical operation sequence on both engines and rounded at final
projection (functions/rounding.py); block membership, counts, and
reassembly order are exact integers/strings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators import text as tx
from gcp_de_data_pipeline_cc_spark.operators.dedup import (
    JACCARD_PAIRS_SQL,
    shingle_overlap_sql,
)
from gcp_de_data_pipeline_cc_spark.operators.text import SHINGLES_SQL
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: non-overlapping block width (tokens) for the line-rewrite pass — the
#: same width corpus2's dedup_blocks detects at, so the two tiers agree
#: on what a "line" is in this punctuation-free feed.
_BLOCK = 10

#: drop a block once it appears in this many distinct documents
_DROP_DF = 2

#: logistic quality model: fixed trained weights (intercept, n_tokens/100,
#: stopword_ratio, type_token_ratio, mean_token_len). Deterministic
#: stand-in for a model artifact — at serving time these arrive as a
#: broadcast side input, exactly how they're applied here.
_W0, _W_LEN, _W_STOP, _W_TTR, _W_MLEN = -1.5, 0.8, -3.0, 2.0, 0.15


@query(
    "dedup_lines_rewrite",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    blk AS (
        SELECT doc_id,
               UNNEST(generate_series(
                   0, CAST(CEIL(len(t) / {_BLOCK}.0e0) AS BIGINT) - 1)) AS i,
               t
        FROM base),
    spans AS (
        SELECT doc_id, i,
               array_to_string(
                   list_slice(t, i * {_BLOCK} + 1,
                              LEAST((i + 1) * {_BLOCK}, len(t))),
                   ' ') AS span
        FROM blk),
    shared AS (
        SELECT span, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY 1)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN shared.df >= {_DROP_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           COALESCE(string_agg(CASE WHEN shared.df < {_DROP_DF}
                                    THEN s.span END, ' ' ORDER BY s.i),
                    '') AS clean_text
    FROM spans s JOIN shared USING (span)
    GROUP BY s.doc_id
    """,
)
def dedup_lines_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-extension — boilerplate-line removal with document REWRITE:
    split each document into non-overlapping 10-token blocks, drop every
    block whose corpus-wide document frequency is >= 2 (all copies — the
    RefinedWeb policy: a line shared across documents is template
    chrome, not content), and reassemble each document from surviving
    blocks in original order. Returns the cleaned text plus the
    before/after block accounting.

    100 TB: the only corpus-wide state is the block->df map, built by
    one explode + groupBy carrying (block, doc_id) pairs — at scale,
    hash blocks to 8-byte keys for the shuffle (the measured
    dedup_ngram_hashjoin trade) and the df map never materializes
    per-doc text. Reassembly re-keys by doc_id: per-doc bounded state,
    order restored from carried block indexes, no driver participation.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tx.tokens_col(F.col("text")).alias("t"))
    n_blk = F.ceil(F.size("t") / float(_BLOCK)).cast("long")
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_blk - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i * _BLOCK + 1, _BLOCK)
                ),
            )
        ).alias("i", "span"),
    )
    shared = spans.groupBy("span").agg(
        F.countDistinct("doc_id").alias("df")
    )
    keep = F.col("df") < _DROP_DF
    kept_struct = F.when(keep, F.struct("i", "span"))
    return (
        spans.join(shared, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_dropped"),
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["span"],
                    ),
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


_SIGMOID_FEATS_SQL = f"""
        SELECT doc_id,
               len(t) * 1.0e0 / 100.0e0 AS f_len,
               len(list_filter(t, x -> x IN ('the', 'a')))
                   * 1.0e0 / len(t) AS f_stop,
               len(list_distinct(t)) * 1.0e0 / len(t) AS f_ttr,
               len(array_to_string(t, '')) * 1.0e0 / len(t) AS f_mlen
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


@query(
    "quality_logistic",
    oracle=f"""
    WITH feats AS ({_SIGMOID_FEATS_SQL}),
    scored AS (
        SELECT doc_id,
               1.0e0 / (1.0e0 + EXP(-({_W0}e0 + {_W_LEN}e0 * f_len
                   + {_W_STOP}e0 * f_stop + {_W_TTR}e0 * f_ttr
                   + {_W_MLEN}e0 * f_mlen))) AS s
        FROM feats)
    SELECT doc_id,
           {sql_roundn("s", 4)} AS score,
           s >= 0.5e0 AS keep
    FROM scored
    """,
)
def quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — quality-classifier INFERENCE: score every document
    with a fixed logistic model over cheap lexical features (scaled
    token count, stopword ratio, type-token ratio, mean token length)
    and emit the keep/drop verdict at the 0.5 threshold. The serving
    pass of the quality gate every crawl corpus runs (the trained
    weights arrive as a small broadcast artifact; here they're module
    constants so the audit is deterministic).

    100 TB: per-document narrow compute — features and sigmoid all
    inside whole-stage codegen, zero shuffles, zero Python. The model
    artifact is O(n_features), broadcast once. Float discipline: both
    engines evaluate the identical expression tree; the score is
    rounded at projection, and the keep flag thresholds the UNrounded
    score identically on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", tx.tokens_col(F.col("text")).alias("t")
    ).select(
        "doc_id",
        (F.size("t") * F.lit(1.0) / F.lit(100.0)).alias("f_len"),
        (
            F.size(F.filter("t", lambda x: x.isin(*tx.STOPWORDS)))
            * F.lit(1.0)
            / F.size("t")
        ).alias("f_stop"),
        (
            F.size(F.array_distinct("t")) * F.lit(1.0) / F.size("t")
        ).alias("f_ttr"),
        (
            F.length(F.concat_ws("", F.col("t")))
            * F.lit(1.0)
            / F.size("t")
        ).alias("f_mlen"),
    )
    z = (
        F.lit(_W0)
        + F.lit(_W_LEN) * F.col("f_len")
        + F.lit(_W_STOP) * F.col("f_stop")
        + F.lit(_W_TTR) * F.col("f_ttr")
        + F.lit(_W_MLEN) * F.col("f_mlen")
    )
    s = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        roundn(s, 4).alias("score"),
        (s >= F.lit(0.5)).alias("keep"),
    )


@query(
    "token_fertility",
    oracle=f"""
    WITH tok AS (
        SELECT lang, source,
               len(t) AS n_tokens,
               len(array_to_string(t, '')) AS n_tok_chars
        FROM (SELECT lang, source, string_split(text, ' ') AS t
              FROM documents))
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tok_chars) AS BIGINT) AS n_chars,
           {sql_roundn("SUM(n_tok_chars) * 1.0e0 / SUM(n_tokens)", 4)}
               AS chars_per_token
    FROM tok
    GROUP BY lang, source
    """,
)
def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — tokenizer fertility audit: characters per token by
    (lang, source) cell. The standing tokenizer-efficiency check of a
    multilingual corpus: a cell whose chars/token sits far from the
    corpus norm is being tokenized by the wrong model (or is mojibake /
    the wrong language label) — the cheap audit run before any GPU
    tokenization batch is scheduled.

    100 TB: per-doc narrow token/char counts (codegen array ops — the
    doc text never reaches the shuffle), then one partial-aggregated
    groupBy over a (|langs| x |sources|) key space of a few hundred
    cells. Output is dashboard-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        "source",
        F.size(tx.tokens_col(F.col("text"))).alias("n_tokens"),
        F.length(
            F.concat_ws("", tx.tokens_col(F.col("text")))
        ).alias("n_tok_chars"),
    )
    return tok.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_tok_chars").alias("n_chars"),
        roundn(
            F.sum("n_tok_chars") * F.lit(1.0) / F.sum("n_tokens"), 4
        ).alias("chars_per_token"),
    )


#: URL synthesis + canonicalization policy, shared by the Spark plan and
#: the oracle: raw URLs are derived deterministically from (source,
#: doc_id) with the four classic duplicate-variant noises — host case,
#: explicit default port, utm tracking params, fragments, and trailing
#: slashes; ~3 docs share each canonical path so duplication is real.
_URL_RAW_SQL = """
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 2 = 0 THEN 'WWW' ELSE 'www' END
               || '.example.com'
               || CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END
               || '/docs/' || CAST(doc_id // 3 AS VARCHAR)
               || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END
               AS url
        FROM documents
"""


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS ({_URL_RAW_SQL}),
    canon AS (
        SELECT doc_id, url,
               REGEXP_REPLACE(
                   REGEXP_REPLACE(
                       REGEXP_REPLACE(
                           REGEXP_REPLACE(LOWER(url), '#.*$', ''),
                           '\\?utm_[^#]*', ''),
                       ':443', ''),
                   '/$', '') AS canonical_url
        FROM raw)
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
           (COUNT(*) > 1) AS is_dup,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-extension — URL canonicalization dedup: the FIRST dedup pass
    of every crawl pipeline, upstream of any content hashing — the same
    page arrives as https://Host.example.com:443/docs/1/?utm_source=x#f
    and https://host.example.com/docs/1 and must collapse before fetch
    budgets and content dedup are spent on it. Canonicalization policy:
    lowercase, strip fragments, utm tracking params, explicit default
    port, and trailing slash; group by the canonical form, keep the
    min doc_id. (Raw URLs are synthesized deterministically from the
    documents table with all four noise classes — the fixture carries
    no URL column; the synthesis is part of the registered query and
    identical in the oracle, the fn_luhn precedent.)

    100 TB: canonicalization is narrow scan-side regexp codegen; the
    only shuffle carries (canonical_url, doc_id, url) — at frontier
    scale hash the canonical to 8 bytes first (dedup_ngram_hashjoin
    trade). Patterns avoid backreferences: Spark ($1) and DuckDB (\\1)
    disagree on backref syntax, so portable canonicalizers must.
    """
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, "WWW").otherwise("www"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 11 == 0, ":443").otherwise(""),
        F.lit("/docs/"),
        F.floor(F.col("doc_id") / 3).cast("string"),
        F.when(F.col("doc_id") % 7 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 3 == 0, "?utm_source=feed").otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, "#section-2").otherwise(""),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "#.*$", ""),
                r"\?utm_[^#]*",
                "",
            ),
            ":443",
            "",
        ),
        "/$",
        "",
    )
    canon = docs.select(
        "doc_id", url.alias("url"), canonical.alias("canonical_url")
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc"),
        (F.count("*") > 1).alias("is_dup"),
        F.countDistinct("url").alias("n_raw_variants"),
    )


#: coverage-curve checkpoints, sized to the fixture's ~31-token lexicon
#: (at production scale these are 1k/8k/32k/128k vocab-size candidates)
_COVERAGE_KS = (5, 10, 20)


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
    freq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    ranked AS (
        SELECT token, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS r,
               SUM(c) OVER (ORDER BY c DESC, token ASC) AS cum,
               SUM(c) OVER () AS tot
        FROM freq)
    SELECT CAST(r AS BIGINT) AS vocab_k,
           CAST(cum AS BIGINT) AS cum_tokens,
           {sql_roundn("cum * 1.0e0 / tot", 6)} AS cum_share
    FROM ranked
    WHERE r IN ({", ".join(str(k) for k in _COVERAGE_KS)})
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — the vocabulary-size/coverage trade-off curve:
    cumulative token-mass share captured by the top-K vocabulary at
    each candidate K. vocab_coverage audits ONE chosen vocab per doc;
    this is the corpus-level curve that CHOOSES K — the marginal
    coverage of doubling the vocabulary, read straight off adjacent
    checkpoints. (Deterministic rank order: freq DESC, token ASC — the
    vocab_build tie-break.)

    100 TB: token frequencies map-side combine to lexicon cardinality;
    the rank/cumsum windows run over the LEXICON (millions of rows at
    web scale — one reducer-friendly relation), never the corpus. The
    checkpoint filter is a constant IN-list.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tx.tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    ranked = freq.select(
        F.row_number().over(w).cast("long").alias("vocab_k"),
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.partitionBy()
        ).alias("tot"),
    )
    return ranked.filter(
        F.col("vocab_k").isin(*_COVERAGE_KS)
    ).select(
        "vocab_k",
        F.col("cum").cast("long").alias("cum_tokens"),
        roundn(F.col("cum") * F.lit(1.0) / F.col("tot"), 6).alias(
            "cum_share"
        ),
    )


#: sampling budget: resample to this fraction of the corpus's docs
_MIX_BUDGET_FRAC = 0.6

#: Knuth multiplicative constant + prime modulus — the deterministic
#: pseudo-uniform both engines compute identically (sample_weighted's)
_MIX_MULT = 2_654_435_761
_MIX_MOD = 1_000_003


@query(
    "corpus_sample_by_weights",
    oracle=f"""
    WITH perdoc AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
               (doc_id * {_MIX_MULT}) % {_MIX_MOD} AS hk
        FROM documents),
    ranked AS (
        SELECT source, doc_id, ntok, hk,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_docs,
               CAST(SUM(ntok) OVER w AS BIGINT) AS n_tokens,
               CAST(FLOOR(SQRT(SUM(ntok) OVER w)) AS BIGINT) AS s,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY hk, doc_id) AS rnk
        FROM perdoc
        WINDOW w AS (PARTITION BY source)),
    scoped AS (
        SELECT *,
               CAST(SUM(CASE WHEN rnk = 1 THEN s END) OVER () AS BIGINT)
                   AS s_tot,
               CAST(FLOOR({_MIX_BUDGET_FRAC}e0 *
                          SUM(CASE WHEN rnk = 1 THEN n_docs END) OVER ())
                    AS BIGINT) AS budget
        FROM ranked),
    tagged AS (
        SELECT *,
               LEAST(n_docs,
                     CAST(FLOOR((budget * s) * 1.0e0 / s_tot) AS BIGINT))
                   AS n_target,
               (rnk <= LEAST(n_docs,
                     CAST(FLOOR((budget * s) * 1.0e0 / s_tot) AS BIGINT)))
                   AS kept
        FROM scoped)
    SELECT source,
           CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(n_target) AS BIGINT) AS n_target,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           {sql_roundn("MAX(s) * 1.0e0 / MAX(s_tot)", 6)} AS target_share
    FROM tagged
    GROUP BY source
    """,
)
def corpus_sample_by_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — the MATERIALIZATION of the domain-mix policy:
    corpus_mix_weights computes temperature-0.5 target weights; this
    query actually draws the resample — per-source quotas from exact
    integer arithmetic (⌊√tokens⌋ scores, so the allocation can never
    flip on a floating summation ulp), membership by deterministic
    multiplicative-hash rank within each source (reproducible across
    runs AND engines — no rand()), quota capped at availability. The
    audit output reports target vs achieved per source; the kept flag
    is the training-set membership column a real pipeline writes.

    100 TB: the tokenized per-doc relation materializes once (lazy
    checkpoint) and feeds (a) a map-side per-SOURCE rollup whose
    source-cardinality stats/budget tables broadcast back and (b) the
    one source-keyed rank window — the only data-sized shuffle.  The
    global budget lives on a ONE-ROW relation, never a global window
    over the per-doc rows (sp_audit r5: the old Window.partitionBy()
    carried every document through a single reducer). The hash-rank
    cut means adding documents to one source never perturbs another
    source's sample (stratum stability), and re-runs are
    byte-identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    perdoc = docs.select(
        "source",
        "doc_id",
        F.size(tx.tokens_col(F.col("text"))).cast("long").alias("ntok"),
        ((F.col("doc_id") * _MIX_MULT) % _MIX_MOD).alias("hk"),
    )
    perdoc = perdoc.localCheckpoint(eager=False)  # stats + rank consumers
    stats = (
        perdoc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
        .withColumn("s", F.floor(F.sqrt(F.col("n_tokens"))).cast("long"))
    )
    tot = stats.agg(
        F.sum("s").cast("long").alias("s_tot"),
        F.floor(F.lit(_MIX_BUDGET_FRAC) * F.sum("n_docs"))
        .cast("long")
        .alias("budget"),
    )
    w_src = Window.partitionBy("source")
    ranked = perdoc.select(
        "source",
        "doc_id",
        "ntok",
        F.row_number().over(w_src.orderBy("hk", "doc_id")).alias("rnk"),
    )
    scoped = ranked.join(F.broadcast(stats), "source").crossJoin(
        F.broadcast(tot)
    )
    n_target = F.least(
        F.col("n_docs"),
        F.floor(
            (F.col("budget") * F.col("s")) * F.lit(1.0) / F.col("s_tot")
        ).cast("long"),
    )
    tagged = scoped.select(
        "*",
        n_target.alias("n_target"),
        (F.col("rnk") <= n_target).alias("kept"),
    )
    return tagged.groupBy("source").agg(
        F.max("n_docs").cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.max("n_target").cast("long").alias("n_target"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("ntok")).otherwise(0)).alias(
            "kept_tokens"
        ),
        roundn(
            F.max("s") * F.lit(1.0) / F.max("s_tot"), 6
        ).alias("target_share"),
    )


@query("text_compression_ratio", oracle=None)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — the gzip compressibility quality heuristic: a
    document that DEFLATE shrinks dramatically is repetitive
    boilerplate; one that barely compresses is noise/binary-ish; clean
    prose sits in a stable band. Crawl pipelines run exactly this as a
    cheap pre-filter because the compressor measures redundancy that
    token-level stats (text_repetition's bigram ratio) only sample.
    Emits per-doc raw/compressed byte counts, the ratio, and the band
    verdict. Rows-only: DEFLATE isn't expressible in SQL — semantics
    are pinned by band-law tests (synthetic repetitive vs high-entropy
    docs land in the right bands) instead of an oracle.

    100 TB: an Arrow-batched pandas UDF (zlib level 6, deterministic
    output) — ~100 MB/s/core of pure-Python throughput is acceptable
    here because the pass is once-per-corpus and embarrassingly
    parallel; payload bytes stay on executors, the driver sees only
    the scalar stats. This is the third rung of the Python ladder in
    production use: stdlib library code that genuinely has no
    Catalyst equivalent, batched so the interpreter cost amortizes.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        )

    docs = load_table(spark, sf_dir, "documents")
    raw_len = F.length(F.col("text")).cast("long")
    out = docs.select(
        "doc_id",
        raw_len.alias("raw_bytes"),
        deflate_len(F.col("text")).alias("deflate_bytes"),
    ).select(
        "doc_id",
        "raw_bytes",
        "deflate_bytes",
        roundn(
            F.col("deflate_bytes") * F.lit(1.0) / F.col("raw_bytes"), 4
        ).alias("ratio"),
    )
    return out.withColumn(
        "band",
        F.when(F.col("ratio") < 0.3, "boilerplate")
        .when(F.col("ratio") > 0.8, "noise")
        .otherwise("prose"),
    )


@query(
    "corpus_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST({SHINGLES_SQL})
                   AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3),
    owner AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN owner.first_doc = sh.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           {sql_roundn(
               "SUM(CASE WHEN owner.first_doc = sh.doc_id THEN 1 ELSE 0 END)"
               " * 1.0e0 / COUNT(*)", 4
           )} AS novelty
    FROM sh JOIN owner USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — the corpus NOVELTY curve: per document (in
    ingestion order = doc_id), the share of its 3-gram shingles never
    seen in any earlier document. The marginal-content diagnostic of a
    growing corpus — when a source's novelty rate decays toward zero,
    further crawling it buys tokens but no new content, which is the
    signal behind crawl-budget reallocation and dedup-threshold
    tuning (the aggregate view of what dedup_blocks flags doc-by-doc).

    100 TB: one shingle explode (the dedup-family relation, hash to 8
    bytes at scale) → a MIN-by-shingle rollup (map-side combined) →
    rejoin keyed by shingle → per-doc rollup. First-ownership by
    min(doc_id) makes the curve deterministic and incremental —
    appending documents never changes earlier docs' novelty.
    """
    from gcp_de_data_pipeline_cc_spark.plans.llm import corpus_shingles

    # r10: session-shared full-corpus shingle relation (identical rows;
    # already checkpointed — see dedup_containment / inverted_index)
    sh = corpus_shingles(spark, sf_dir)
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    is_novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(is_novel).alias("n_novel"),
            roundn(
                F.sum(is_novel) * F.lit(1.0) / F.count("*"), 4
            ).alias("novelty"),
        )
    )


@query(
    "source_mirror_matrix",
    oracle=f"""
    WITH {shingle_overlap_sql()},
    pairs AS ({JACCARD_PAIRS_SQL}),
    tagged AS (
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               (da.source = db.source) AS same_source
        FROM pairs
        JOIN documents da ON da.doc_id = pairs.doc_a
        JOIN documents db ON db.doc_id = pairs.doc_b)
    SELECT source_a, source_b, same_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY 1, 2, 3
    """,
)
def source_mirror_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-extension — WHERE does duplication come from: near-dup pairs
    (exact 3-gram Jaccard ≥ 0.5, the dedup_ngram_jaccard relation)
    rolled up to the source-pair level with a same-source flag. High
    cross-source cells are mirrors/syndication (drop one side, fix the
    crawl frontier); high same-source cells are template spam inside
    one feed (fix extraction). Doc-level dedup says WHAT to drop; this
    matrix says what to fix UPSTREAM so the duplicates stop arriving.

    100 TB: the pair relation is the measured shingle-join (candidate
    work Σ|bucket|², hash-key mode applies); the rollup joins two
    doc→source lookups (dimension-sized projection of the docs table,
    broadcastable) and collapses to ≤|sources|² cells.
    """
    docs = load_table(spark, sf_dir, "documents")
    from gcp_de_data_pipeline_cc_spark.plans.llm import corpus_dup_pairs

    # session-cached pair relation (shared with the whole dedup family)
    pairs = corpus_dup_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    da = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    db = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    tagged = (
        pairs.join(F.broadcast(da), "doc_a")
        .join(F.broadcast(db), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") == F.col("sb")).alias("same_source"),
        )
    )
    return tagged.groupBy("source_a", "source_b", "same_source").agg(
        F.count("*").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# Gopher-style hard rule battery (r3j wave)
# ---------------------------------------------------------------------------

@query(
    "quality_gopher_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(toks, w -> length(w)))
                    AS BIGINT) AS sum_word_len,
               CAST(len(list_filter(toks, w -> w IN ('the', 'a')))
                    AS BIGINT) AS n_stop,
               CAST(len(list_filter(toks,
                        w -> regexp_matches(w, '^[a-z]+$')))
                    AS BIGINT) AS n_alpha
        FROM t)
    SELECT doc_id, n_words, sum_word_len, n_stop, n_alpha,
           (n_words BETWEEN 20 AND 100000) AS r1_word_count,
           (3 * n_words <= sum_word_len
            AND sum_word_len <= 10 * n_words) AS r2_mean_word_len,
           (n_stop >= 2) AS r3_stopwords,
           (5 * n_alpha >= 4 * n_words) AS r4_alpha_fraction,
           ((n_words BETWEEN 20 AND 100000)
            AND 3 * n_words <= sum_word_len
            AND sum_word_len <= 10 * n_words
            AND n_stop >= 2
            AND 5 * n_alpha >= 4 * n_words) AS pass_all
    FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6-extension — Gopher-style HARD rule battery (Rae et al. 2021
    §A1.1 adapted to this corpus): word-count bounds, mean-word-length
    band, minimum stopword evidence, alphabetic-word fraction — the
    PASS/FAIL filter stage that complements text_quality's continuous
    scores (filters drop, scores rank).

    Every rule is an exact INTEGER comparison — the mean-word-length
    band is cross-multiplied (3n ≤ Σlen ≤ 10n) and the alpha fraction
    is 5·n_alpha ≥ 4·n — so there is not a single float anywhere in
    the key: no rounding, no engine divergence possible.

    100 TB: one narrow projection, all per-doc array arithmetic inside
    whole-stage codegen, no shuffle at all (the filter is
    embarrassingly parallel — exactly why these rule batteries run
    FIRST in a curation pipeline, before any join-heavy dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("sum_word_len"),
        F.size(F.filter(toks, lambda w: w.isin("the", "a")))
        .cast("long")
        .alias("n_stop"),
        F.size(F.filter(toks, lambda w: w.rlike("^[a-z]+$")))
        .cast("long")
        .alias("n_alpha"),
    )
    r1 = F.col("n_words").between(20, 100000)
    r2 = (F.lit(3) * F.col("n_words") <= F.col("sum_word_len")) & (
        F.col("sum_word_len") <= F.lit(10) * F.col("n_words")
    )
    r3 = F.col("n_stop") >= 2
    r4 = F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_stop",
        "n_alpha",
        r1.alias("r1_word_count"),
        r2.alias("r2_mean_word_len"),
        r3.alias("r3_stopwords"),
        r4.alias("r4_alpha_fraction"),
        (r1 & r2 & r3 & r4).alias("pass_all"),
    )

