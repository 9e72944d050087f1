"""Round-7 wave: data-selection and text-diversity operators for
LLM corpus curation.

* ``corpus_dsir_weights`` — DSIR (Data Selection with Importance
  Resampling, Xie et al. 2023): hashed-bigram feature LMs for a target
  domain vs the raw pool, per-document importance log-weights — the
  standard recipe for tilting a web-scale crawl toward a target
  distribution before pretraining.
* ``corpus_perplexity_buckets`` — the CCNet head/middle/tail split:
  bucket documents by LM perplexity terciles per language, the
  quality-stratification every CommonCrawl-derived corpus ships with.
* ``text_distinct_ngrams`` — distinct-1/distinct-2 ratios per document
  (Li et al. 2016): the lexical-diversity signal used to filter
  degenerate/templated text (low distinct-n) from training corpora.

Reference parity: the reference repo (AdepuAdithya/gcp-de-data-pipeline-cc,
Airflow DAG orchestration — dags/*.py) has no corpus engine; these
derive from the driver's LLM-pipeline mandate on public algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# corpus_dsir_weights
# ---------------------------------------------------------------------------

#: hashed feature space size and the target domain (a fixed source
#: slice — deterministic, exists at every SF)
_DSIR_B = 1024
_DSIR_TARGET = "src0"

#: portable bigram->bucket hash: md5 prefix as int, mod B (the PQ seed
#: idiom — identical in Spark conv() and DuckDB CAST('0x'||...))
_DSIR_BUCKET_SQL = (
    "CAST(CAST('0x' || SUBSTR(md5(g), 1, 12) AS BIGINT) % {b} AS BIGINT)"
).format(b=_DSIR_B)


def _dsir_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents),
    big AS (
        SELECT doc_id, source,
               UNNEST(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks WHERE len(t) >= 2),
    feat AS (
        SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM big GROUP BY 1, 2, 3),
    tcnt AS (
        SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM feat
        WHERE source = '{_DSIR_TARGET}' GROUP BY 1),
    rcnt AS (
        SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM feat GROUP BY 1),
    tots AS (
        SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tcnt) AS nt,
               (SELECT CAST(SUM(cr) AS BIGINT) FROM rcnt) AS nr),
    delta AS (
        SELECT r.b,
               CAST(FLOOR((ln((COALESCE(t.ct, 0) + 1.0e0)
                              / (tots.nt + {_DSIR_B}))
                           - ln((r.cr + 1.0e0) / (tots.nr + {_DSIR_B})))
                          * 1000000000.0e0 + 0.5e0) AS BIGINT) AS d
        FROM rcnt r LEFT JOIN tcnt t ON t.b = r.b CROSS JOIN tots),
    docw AS (
        SELECT feat.doc_id, feat.source,
               CAST(SUM(feat.c * delta.d) AS BIGINT) AS wq,
               CAST(SUM(feat.c) AS BIGINT) AS n_feats
        FROM feat JOIN delta ON delta.b = feat.b
        GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_roundn(
               "SUM(wq) / COUNT(*) / 1000000000.0e0 / 1.0e0", 4)}
               AS mean_logw,
           CAST(SUM(CASE WHEN wq > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_positive
    FROM docw
    GROUP BY source
    ORDER BY source
    """


@query("corpus_dsir_weights", oracle=_dsir_oracle())
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation — DSIR importance log-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hashed-bigram ({b} buckets, the portable md5 bucket hash) unigram
    feature LMs with add-1 smoothing for the TARGET domain
    ('{target}') and the RAW pool; a document's importance log-weight
    is Σ_features count·[ln p_target(f) − ln p_raw(f)] — positive
    means "looks more like the target than the pool", and resampling
    by these weights tilts a crawl toward the target distribution.
    Driver-visible output is the per-source selection profile (mean
    log-weight, n docs with positive weight) — the report that decides
    the resampling temperature; the target source itself scoring
    highest is the built-in sanity law.

    Exactness: per-bucket log-ratio deltas quantize ONCE to integer
    nano-units (the ln runs on exact smoothed rationals, identical
    both engines), so every per-document weight is an exact int64 dot
    product of counts × deltas — summation-order-free.

    100 TB: features hash to a FIXED {b}-bucket space (the whole point
    of DSIR — LM state is O(B), not O(vocab)); the delta relation is
    {b} rows broadcast; per-doc weights are one map-side join +
    aggregate; the report is source-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("g"),
    )
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long")
        % _DSIR_B
    )
    feat = big.groupBy("doc_id", "source", bucket.alias("b")).agg(
        F.count("*").cast("long").alias("c")
    )
    feat = feat.localCheckpoint(eager=False)  # LMs + doc weights
    tcnt = (
        feat.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("ct"))
    )
    rcnt = feat.groupBy("b").agg(F.sum("c").cast("long").alias("cr"))
    tots = (
        tcnt.agg(F.sum("ct").cast("long").alias("nt"))
        .crossJoin(rcnt.agg(F.sum("cr").cast("long").alias("nr")))
    )
    delta = (
        rcnt.join(tcnt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("nt") + F.lit(float(_DSIR_B)))
                    )
                    - F.log(
                        (F.col("cr") + F.lit(1.0))
                        / (F.col("nr") + F.lit(float(_DSIR_B)))
                    )
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("d"),
        )
    )
    docw = (
        feat.join(F.broadcast(delta), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("c") * F.col("d")).cast("long").alias("wq"),
            F.sum("c").cast("long").alias("n_feats"),
        )
    )
    return (
        docw.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            roundn(
                F.sum("wq") / F.count("*") / F.lit(1000000000.0) / F.lit(1.0),
                4,
            ).alias("mean_logw"),
            F.sum(F.when(F.col("wq") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
        )
        .orderBy("source")
    )


corpus_dsir_weights.__doc__ = corpus_dsir_weights.__doc__.format(
    b=_DSIR_B, target=_DSIR_TARGET
)


# ---------------------------------------------------------------------------
# corpus_perplexity_buckets
# ---------------------------------------------------------------------------

_PPLB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
    FROM documents),
cnt AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_corpus,
           CAST(COUNT(*) AS BIGINT) AS vocab
    FROM cnt),
doc AS (
    SELECT tok.doc_id,
           {sql_roundn(
               "AVG(-log2((cnt.c + 1.0e0) / (tot.n_corpus + tot.vocab)))",
               4)} AS bits
    FROM tok JOIN cnt USING (token) CROSS JOIN tot
    GROUP BY tok.doc_id),
ranked AS (
    SELECT d.doc_id, dd.lang, d.bits,
           ROW_NUMBER() OVER (ORDER BY d.bits, d.doc_id) AS r,
           COUNT(*) OVER () AS n
    FROM doc d JOIN documents dd USING (doc_id)),
bucketed AS (
    SELECT lang,
           CAST(FLOOR(bits * 10000.0e0 + 0.5e0) AS BIGINT) AS ubits,
           CASE CAST(FLOOR((r - 1) * 3.0e0 / n) AS BIGINT)
                WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked),
agg AS (
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ubits) AS BIGINT) AS s
    FROM bucketed
    GROUP BY lang, bucket)
SELECT lang, bucket, n_docs,
       CAST((2 * s + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0e0
           AS avg_bits
FROM agg
ORDER BY lang, bucket
"""


@query("corpus_perplexity_buckets", oracle=_PPLB_ORACLE)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation — the CCNET HEAD/MIDDLE/TAIL SPLIT (Wenzek et
    al. 2020): rank every document by LM bits-per-token (the
    text_perplexity estimator: add-1-smoothed corpus unigram LM) and
    cut the ranking into terciles — 'head' (lowest perplexity, most
    fluent) / 'middle' / 'tail' (noisiest).  Every CommonCrawl-derived
    pretraining corpus ships exactly this stratification so data
    mixing can oversample head and drop tail; the report is the per
    (lang, bucket) census a mixing config consumes.

    Exactness: per-doc bits round at 4 dp BEFORE ranking (ties broken
    by doc_id) and the tercile cut is an exact integer rank
    expression; the per-bucket mean sums the rounded bits as int64
    1e-4 units and rounds half-up in integers, so no float summation
    order can move a half-unit tie.

    100 TB: the unigram LM is one token aggregate (vocabulary-sized
    broadcast); the global ranking is the two-phase global_rank (range
    exchange + partition offsets, never one reducer), n its largest
    rank; the census is |langs|×3 rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("n_corpus"),
        F.count("*").cast("long").alias("vocab"),
    )
    doc = (
        tok.join(cnt, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            roundn(
                F.avg(
                    -F.log2(
                        (F.col("c") + F.lit(1.0))
                        / (F.col("n_corpus") + F.col("vocab"))
                    )
                ),
                4,
            ).alias("bits")
        )
    )
    ranked = global_rank(
        doc.join(docs.select("doc_id", "lang"), "doc_id"),
        [F.col("bits"), F.col("doc_id")],
        rank_col="r",
    )
    n = ranked.agg(F.max("r").alias("n"))
    bucket = F.floor((F.col("r") - 1) * F.lit(3.0) / F.col("n")).cast("long")
    bucketed = ranked.crossJoin(F.broadcast(n)).select(
        "lang",
        F.floor(F.col("bits") * F.lit(10000.0) + F.lit(0.5)).alias("ubits"),
        F.when(bucket == 0, "head")
        .when(bucket == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ubits").cast("long").alias("s"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            (
                F.expr("(2 * s + n_docs) div (2 * n_docs)").cast("double")
                / F.lit(10000.0)
            ).alias("avg_bits"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# text_distinct_ngrams
# ---------------------------------------------------------------------------

_DISTN_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2),
uni AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n1,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
    FROM (SELECT doc_id, UNNEST(t) AS g FROM toks) GROUP BY 1),
bi AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n2,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
    FROM (SELECT doc_id,
                 UNNEST(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i+1])) AS g
          FROM toks) GROUP BY 1)
SELECT uni.doc_id, n1 AS n_tokens, d1 AS distinct1, d2 AS distinct2,
       {sql_roundn("d1 * 1.0e0 / n1", 6)} AS distinct1_ratio,
       {sql_roundn("d2 * 1.0e0 / n2", 6)} AS distinct2_ratio
FROM uni JOIN bi USING (doc_id)
ORDER BY uni.doc_id
"""


@query("text_distinct_ngrams", oracle=_DISTN_ORACLE)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text QC — DISTINCT-N lexical diversity (Li et al. 2016's
    distinct-1/distinct-2, the degenerate-text filter): per document,
    the share of unigram and bigram TYPES among TOKENS.  Templated or
    looping text (boilerplate, keyword stuffing, decoding collapse)
    scores near 0; natural prose sits high — the cheap complement to
    text_repetition (which catches EXACT repeats; distinct-n catches
    low-variety text that never repeats verbatim).

    Exactness: pure integer type/token counting; two floored 6 dp
    ratios at the end.

    100 TB: two map-side explodes with per-doc distinct aggregation —
    the shuffle key is doc_id, state is per-doc vocabulary; no joins
    beyond the final per-doc zip."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    uni = (
        toks.select("doc_id", F.explode("t").alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n1"),
            F.countDistinct("g").cast("long").alias("d1"),
        )
    )
    bi = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ',"
                    " element_at(t, i + 1)))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n2"),
            F.countDistinct("g").cast("long").alias("d2"),
        )
    )
    return (
        uni.join(bi, "doc_id")
        .select(
            "doc_id",
            F.col("n1").alias("n_tokens"),
            F.col("d1").alias("distinct1"),
            F.col("d2").alias("distinct2"),
            roundn(F.col("d1") * F.lit(1.0) / F.col("n1"), 6).alias(
                "distinct1_ratio"
            ),
            roundn(F.col("d2") * F.lit(1.0) / F.col("n2"), 6).alias(
                "distinct2_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_heaps_law (r7 wave 5)
# ---------------------------------------------------------------------------

#: vocabulary-growth checkpoints (corpus deciles by doc order)
_HEAPS_D = 10


def _heaps_oracle() -> str:
    return f"""
    WITH pos AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS p,
               COUNT(*) OVER () AS nd
        FROM documents),
    tok AS (
        SELECT pos.p, t.token
        FROM documents d
        JOIN pos ON pos.doc_id = d.doc_id,
        UNNEST(string_split(d.text, ' ')) AS t(token)),
    firstp AS (
        SELECT token, CAST(MIN(p) AS BIGINT) AS fp FROM tok GROUP BY 1),
    dtok AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS ntok FROM tok GROUP BY 1),
    cp AS (
        SELECT UNNEST(range(1, {_HEAPS_D} + 1)) AS dec),
    marks AS (
        SELECT cp.dec,
               CAST((SELECT MAX(nd) FROM pos) * cp.dec // {_HEAPS_D}
                    AS BIGINT) AS pcut
        FROM cp),
    pts AS (
        SELECT m.dec,
               (SELECT CAST(SUM(ntok) AS BIGINT) FROM dtok
                WHERE p <= m.pcut) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM firstp
                WHERE fp <= m.pcut) AS vocab
        FROM marks m
        WHERE m.pcut >= 1),
    q AS (
        SELECT dec, n_tokens, vocab,
               CAST(FLOOR(ln(n_tokens * 1.0e0) * 1000000.0e0 + 0.5e0)
                    AS BIGINT) AS u,
               CAST(FLOOR(ln(vocab * 1.0e0) * 1000000.0e0 + 0.5e0)
                    AS BIGINT) AS v
        FROM pts),
    fit AS (
        SELECT CAST(SUM(u) AS BIGINT) AS su,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(u * v) AS BIGINT) AS suv,
               CAST(SUM(u * u) AS BIGINT) AS suu,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM q)
    SELECT q.dec AS decile, q.n_tokens, q.vocab,
           {sql_roundn(
               "(fit.k * fit.suv - fit.su * fit.sv) * 1.0e0"
               " / (fit.k * fit.suu - fit.su * fit.su)", 4)} AS heaps_beta
    FROM q CROSS JOIN fit
    ORDER BY q.dec
    """


@query("corpus_heaps_law", oracle=_heaps_oracle())
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats — HEAPS' LAW vocabulary-growth profile: vocabulary
    size V(n) against tokens seen n at corpus deciles (doc order),
    with the Heaps exponent β from the log-log least-squares fit
    (V ≈ K·n^β, β ≈ 0.5 for natural language) — the growth curve that
    sizes tokenizer vocabularies and predicts OOV rates on corpus
    extensions, and the companion diagnostic to corpus_zipf (Zipf and
    Heaps are two views of the same frequency law).

    The cumulative-distinct trick: V(prefix p) = #tokens whose FIRST
    occurrence position ≤ p — one min-aggregate per token replaces a
    distinct-count per checkpoint (10× cheaper and exact).

    Exactness: token counts and first positions are exact integers;
    the fit quantizes ln(n)/ln(V) to integer micro-units so the five
    regression sums are exact int64 (all < 2^62) and the slope is ONE
    final division rounded 4 dp.

    100 TB: doc positions come from the two-phase global_rank (range
    exchange + partition offsets, never one reducer); one token explode
    with two aggregates (first-position per token — vocabulary-sized;
    per-doc counts — doc-sized), each streamed against the broadcast
    10-row decile spine; no per-checkpoint rescans."""
    docs = load_table(spark, sf_dir, "documents")
    pos = global_rank(docs.select("doc_id"), [F.col("doc_id")], rank_col="p")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .join(pos, "doc_id")
    )
    tok = tok.localCheckpoint(eager=False)  # firstp + dtok
    firstp = tok.groupBy("token").agg(F.min("p").cast("long").alias("fp"))
    dtok = tok.groupBy("p").agg(F.count("*").cast("long").alias("ntok"))
    nd = docs.agg(F.count("*").cast("long").alias("nd"))
    marks = (
        spark.range(1, _HEAPS_D + 1)
        .select(F.col("id").cast("long").alias("dec"))
        .crossJoin(F.broadcast(nd))
        .select(
            "dec",
            F.floor(F.col("nd") * F.col("dec") / _HEAPS_D)
            .cast("long")
            .alias("pcut"),
        )
        # pcut = 0 deciles (corpus smaller than the checkpoint count)
        # are dropped symmetrically with the oracle — the inner joins
        # below could never emit them and ln(0) has no fit point
        .filter(F.col("pcut") >= 1)
    )
    ntk = (
        dtok.join(F.broadcast(marks), dtok["p"] <= marks["pcut"])
        .groupBy("dec", "pcut")
        .agg(F.sum("ntok").cast("long").alias("n_tokens"))
    )
    voc = (
        marks.join(firstp, firstp["fp"] <= marks["pcut"])
        .groupBy("dec")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    q = ntk.join(voc, "dec").select(
        "dec",
        "n_tokens",
        "vocab",
        F.floor(
            F.log(F.col("n_tokens") * F.lit(1.0)) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("u"),
        F.floor(
            F.log(F.col("vocab") * F.lit(1.0)) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v"),
    )
    q = q.localCheckpoint(eager=False)  # fit + readout
    fit = q.agg(
        F.sum("u").cast("long").alias("su"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("u") * F.col("v")).cast("long").alias("suv"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("suu"),
        F.count("*").cast("long").alias("k"),
    )
    beta = (
        (F.col("k") * F.col("suv") - F.col("su") * F.col("sv"))
        * F.lit(1.0)
        / (F.col("k") * F.col("suu") - F.col("su") * F.col("su"))
    )
    return (
        q.crossJoin(F.broadcast(fit))
        .select(
            F.col("dec").alias("decile"),
            "n_tokens",
            "vocab",
            roundn(beta, 4).alias("heaps_beta"),
        )
        .orderBy("decile")
    )
