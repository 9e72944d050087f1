"""Training-data preparation queries: sequence packing, PII scanning, and
deterministic epoch shuffling — the steps between a curated corpus and a
tokenized training run (extension mandate; the reference's pipeline stops
at curated BigQuery tables, `dags/pipeline_orchestration_dag.py:173-182`).

All three are sharded by design: every window runs PARTITION BY shard so
no operator ever needs a global single-partition sort — the pattern that
keeps them viable at 100 TB (a global ORDER BY window collapses to one
task; per-shard windows parallelize across the cluster, and shard-local
outputs are exactly what a multi-worker training loader consumes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank
from gcp_de_data_pipeline_cc_spark.operators.text import tokens_col
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: documents per packing/shuffle shard (≈ one loader worker's slice)
SHARD_SIZE = 100
#: context-window capacity in tokens for concat-and-chunk packing
PACK_TOKENS = 512


@query(
    "pack_sequences",
    oracle=f"""
    SELECT doc_id,
           CAST(FLOOR(doc_id / {SHARD_SIZE}) AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(tok_offset AS BIGINT) AS tok_offset,
           CAST(FLOOR(tok_offset / {PACK_TOKENS}.0) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY FLOOR(doc_id / {SHARD_SIZE})
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS tok_offset
        FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        )
    )
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — concat-and-chunk sequence packing: documents are
    concatenated in doc_id order within a shard and chunked into
    ``PACK_TOKENS``-token context windows; each document's (offset,
    pack_id) says where its tokens land. This is the standard LLM
    pretraining packing (documents may straddle pack boundaries).

    Scale: the running offset is a PARTITION BY shard window — parallel
    per shard, no global sort; pack ids are shard-local exactly like a
    multi-worker data loader's.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.floor(F.col("doc_id") / SHARD_SIZE).cast("bigint")
    d = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        off.alias("tok_offset"),
        F.floor(off / PACK_TOKENS).cast("bigint").alias("pack_id"),
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


@query(
    "pii_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT)
               AS n_phones,
           (len(regexp_extract_all(text, '{EMAIL_RE}'))
            + len(regexp_extract_all(text, '{PHONE_RE}'))) > 0 AS has_pii
    FROM documents
    """,
)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — PII pre-scan: per-document counts of email/phone
    pattern hits (the cheap regex tier that decides which documents go to
    expensive redaction). Narrow per-row regexes inside codegen — no
    shuffle, no UDF; at 100 TB this is a pure map stage."""
    docs = load_table(spark, sf_dir, "documents")
    n_emails = F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        ((n_emails + n_phones) > 0).alias("has_pii"),
    )


@query(
    "shuffle_epoch",
    oracle=f"""
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY sort_key, doc_id
           ) AS INT) AS shuffle_pos
    FROM (
        SELECT doc_id,
               CAST(FLOOR(doc_id / {SHARD_SIZE}) AS BIGINT) AS shard,
               md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS sort_key
        FROM documents
    )
    """,
)
def shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — deterministic epoch shuffle: each document's
    position within its shard is a pseudorandom permutation keyed on
    (seed, doc_id) via md5 — reproducible across runs and engines (no
    rand()), reshuffled by changing the seed string.

    Scale: hash evaluation is narrow; the only shuffle is the per-shard
    window partition — the same movement a training loader's shard
    assignment does anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.floor(F.col("doc_id") / SHARD_SIZE).cast("bigint")
    sort_key = F.md5(
        F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")).cast("binary")
    )
    d = docs.select(
        "doc_id", shard.alias("shard"), sort_key.alias("sort_key")
    )
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).alias("shuffle_pos")
    )


#: context-window width / stride (tokens) for overlapping chunking
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@query(
    "doc_chunk",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) > 0),
    s AS (
        SELECT doc_id, toks,
               generate_series(0, len(toks) - 1, {CHUNK_STRIDE}) AS starts
        FROM t),
    e AS (
        SELECT doc_id, toks,
               UNNEST(list_transform(generate_series(1, len(starts)),
                                     i -> {{'chunk_id': CAST(i - 1 AS INT),
                                           'start_tok': starts[i]}}),
                      recursive := true)
        FROM s)
    SELECT doc_id, chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(toks[start_tok + 1 : start_tok + {CHUNK_TOKENS}]) AS INT)
               AS chunk_len,
           md5(array_to_string(
               toks[start_tok + 1 : start_tok + {CHUNK_TOKENS}], ' '))
               AS chunk_hash
    FROM e
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — overlapping context-window chunking: each document
    is cut into ``CHUNK_TOKENS``-token windows every ``CHUNK_STRIDE``
    tokens (the retrieval/embedding-ingest chunking where adjacent
    windows overlap so no span loses context). Output carries the chunk's
    position and an md5 fingerprint of its text, never the text itself —
    downstream embedding jobs re-slice from the source column.

    Scale: pure map + generate — sequence/posexplode/slice are all
    codegen, no shuffle, no UDF; chunk count scales with token count so
    output size is input-proportional regardless of document skew."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
    e = d.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, CHUNK_TOKENS)
    return e.select(
        "doc_id",
        "chunk_id",
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(chunk).alias("chunk_len"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )


#: drop tokens rarer than this from the vocabulary
VOCAB_MIN_FREQ = 2


@query(
    "vocab_build",
    oracle=f"""
    SELECT token,
           n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1
                AS INT) AS token_id
    FROM (
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
        HAVING COUNT(*) >= {VOCAB_MIN_FREQ}
    )
    """,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — tokenizer vocabulary construction: corpus-wide
    token frequencies, a min-frequency cut, and deterministic dense ids
    assigned by (frequency desc, token) — reproducible across runs and
    engines, no rand(), ties broken lexically.

    Scale: explode + groupBy is one map-side-combinable shuffle carrying
    (token, count). The id-assignment window is a single global sort of
    the VOCABULARY (post-aggregation, ≤ a few million rows at any corpus
    size), not of the corpus — the one place a one-partition window is
    the right plan."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= VOCAB_MIN_FREQ)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.select(
        "token",
        "n_occurrences",
        (F.row_number().over(w) - 1).cast("int").alias("token_id"),
    )


@query(
    "feature_scale",
    oracle="""
    SELECT event_id, event_type,
           FLOOR((value - mn) / (mx - mn) * 10000.0 + 0.5) / 10000.0
               AS value_minmax,
           FLOOR((value - mu) / sd * 10000.0 + 0.5) / 10000.0 AS value_z
    FROM events
    JOIN (
        SELECT event_type AS et, MIN(value) AS mn, MAX(value) AS mx,
               AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        FROM events GROUP BY 1
    ) ON event_type = et
    """,
)
def feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — per-group feature scaling (min-max + z-score) as
    a tiny aggregate broadcast-joined back onto the fact rows. Same
    normalization as udtf_grouped_map's applyInPandas, deliberately
    re-expressed as the production plan: the groupBy emits one row per
    event_type, that result broadcasts, and the fact rows are NEVER
    shuffled (applyInPandas must shuffle every row into its group and
    hold whole groups in pandas). At 100 TB this is the difference
    between a broadcast map stage and a full-corpus shuffle."""
    from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    return ev.join(F.broadcast(stats), ev.event_type == stats.et).select(
        "event_id",
        "event_type",
        roundn((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")), 4)
            .alias("value_minmax"),
        roundn((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("value_z"),
    )


@query(
    "training_prep",
    oracle="""
    WITH tok AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    q AS (
        SELECT doc_id, text,
               CAST(len(t) AS INT) AS n_tokens,
               len(list_distinct(t)) / len(t) AS dr
        FROM tok),
    qp AS (SELECT * FROM q WHERE dr >= 0.35 AND n_tokens >= 20),
    d AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (
                   PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM qp),
    kept AS (SELECT doc_id, n_tokens FROM d WHERE rn = 1),
    tagged AS (
        SELECT CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'test'
                    WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34'
                    THEN 'validation'
                    ELSE 'train' END AS split,
               n_tokens
        FROM kept)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM tagged GROUP BY split
    """,
)
def training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-run preparation composite: quality gate
    (type-token ratio ≥ 0.35, ≥ 20 tokens) → exact content-hash dedup
    (keep lowest doc_id per sha256) → deterministic md5 train/val/test
    split → per-split token accounting. The one-call version of the
    ramp a corpus goes through between curation and the tokenizer;
    every stage is the scale-safe plan already verified individually
    (corpus_curation, dedup_exact, split_train_test), and the whole
    chain is hash-checked against the oracle. Integer outputs only —
    no float discipline needed. At 100 TB the dedup window shuffles
    (hash, id, n_tokens), never text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    q = docs.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("dr"),
    )
    qp = q.filter((F.col("dr") >= 0.35) & (F.col("n_tokens") >= 20))
    rn = F.row_number().over(
        Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    )
    kept = qp.select("doc_id", "n_tokens", rn.alias("rn")).filter(F.col("rn") == 1)
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "1a", "test")
        .when(prefix < "34", "validation")
        .otherwise("train")
    )
    return (
        kept.select(split.alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


@query(
    "decontaminate",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, source,
               UNNEST(list_transform(range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
        FROM w WHERE len(t) >= 5),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
    hit AS (
        SELECT tr.doc_id, COUNT(*) AS n_overlap
        FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           {sql_roundn("COALESCE(h.n_overlap, 0) * 1.0e0 / t.n_shingles", 4)}
               AS overlap_ratio
    FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: for every training document, the
    count and share of its distinct 5-gram shingles that also appear
    anywhere in the held-out evaluation set (here: docs from source
    'src0' stand in for the benchmark suite). Docs above an overlap
    threshold get dropped before training — the standard guard against
    eval leakage.

    100 TB design: the same shingle-join formulation as
    dedup_ngram_jaccard (operators/dedup.py) — candidate work is
    Σ|shingle bucket| across the join key, never |train| × |eval|
    all-pairs. The eval side collapses to DISTINCT shingles first (tiny
    vs the corpus — benchmarks are MBs, crawls are TBs), so the join
    probe side is benchmark-sized; in production you'd broadcast it and
    carry xxhash64(shingle) instead of the string to shrink the build.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 5)
    sh = base.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 4),"
                   " i -> concat_ws(' ', t[i-1], t[i], t[i+1], t[i+2], t[i+3]))")
        ).alias("shingle"),
    ).distinct()
    # sh feeds the eval side, the per-doc totals, and the overlap join —
    # checkpoint so the shingle explode+distinct runs once (plan-census
    # lesson: Spark reuses exchanges, not shared subtrees)
    sh = sh.localCheckpoint(eager=False)
    ev = sh.filter(F.col("source") == "src0").select("shingle").distinct()
    tr = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return tot.join(hit, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        roundn(
            F.coalesce("n_overlap", F.lit(0)) / F.col("n_shingles"), 4
        ).alias("overlap_ratio"),
    )


@query(
    "fn_mask",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
               c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
               '[0-9]', 'n', 'g') AS masked_default,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS digits_starred
    FROM customer
    """,
)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction via the mask() builtin: the display-safe transform
    that keeps string SHAPE (length, punctuation, case classes) while
    destroying content — upper→X, lower→x, digit→n by default, with
    per-class overrides. Pairs with pii_scan: scan finds the columns,
    mask neutralizes them on the serving path.

    100 TB: single-pass character translation in codegen — same cost
    class as upper(); no regex engine on the Spark side (the oracle uses
    regex only because DuckDB lacks mask()).
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked_default"),
        F.mask(
            "c_name",
            upperChar=F.lit(None),
            lowerChar=F.lit(None),
            digitChar=F.lit("*"),
        ).alias("digits_starred"),
    )


@query(
    "fn_crypto_roundtrip",
    oracle="""
    SELECT c_custkey,
           CAST(16 * (len(c_name) // 16 + 1) AS INT) AS cipher_len,
           c_name AS decrypted,
           TRUE AS roundtrip_ok
    FROM customer
    """,
)
def fn_crypto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption roundtrip (aes_encrypt/aes_decrypt): the
    PII-at-rest pattern — sensitive columns encrypted with a per-dataset
    key before landing, decrypted only on authorized read paths. ECB +
    PKCS here for deterministic output (the oracle predicts ciphertext
    LENGTH and verifies the decrypt inverts); production uses GCM, whose
    random IV is the point — same plan shape, non-deterministic bytes.

    100 TB: AES is a JVM intrinsic projection (~GB/s per core,
    hardware-accelerated); key distribution is config, not data — no
    shuffle, no UDF.
    """
    c = load_table(spark, sf_dir, "customer")
    key = F.lit("0123456789abcdef")
    cipher = F.aes_encrypt(F.col("c_name"), key, F.lit("ECB"))
    plain = F.aes_decrypt(cipher, key, F.lit("ECB")).cast("string")
    return c.select(
        "c_custkey",
        F.length(cipher).alias("cipher_len"),
        plain.alias("decrypted"),
        (plain == F.col("c_name")).alias("roundtrip_ok"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (r3l wave)
# ---------------------------------------------------------------------------

#: reported pairs per iteration (rank 1 is the learned merge)
_BPE_TOPK = 3


def _bpe_oracle() -> str:
    pair_list = (
        "list_transform(range(1, len(s)), "
        "i -> s[i] || '+' || s[i+1])"
    )
    return f"""
    WITH w AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY 1),
    s1 AS (
        SELECT word, n,
               ' ' || array_to_string(string_split(word, ''), ' ') || ' '
                   AS seq
        FROM w),
    p1 AS (
        SELECT n, UNNEST({pair_list}) AS pair
        FROM (SELECT n, string_split(trim(seq), ' ') AS s FROM s1)
        WHERE len(s) >= 2),
    pc1 AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS c FROM p1 GROUP BY 1),
    top1 AS (
        SELECT pair, c,
               CAST(row_number() OVER (ORDER BY c DESC, pair) AS BIGINT)
                   AS rnk
        FROM pc1 QUALIFY rnk <= {_BPE_TOPK}),
    best1 AS (SELECT pair, c FROM top1 WHERE rnk = 1),
    s2 AS (
        SELECT s1.word, s1.n,
               regexp_replace(regexp_replace(s1.seq,
                   ' ' || replace(b.pair, '+', ' ') || ' ',
                   ' ' || replace(b.pair, '+', '') || ' ', 'g'),
                   ' ' || replace(b.pair, '+', ' ') || ' ',
                   ' ' || replace(b.pair, '+', '') || ' ', 'g') AS seq
        FROM s1, best1 b),
    p2 AS (
        SELECT n, UNNEST({pair_list}) AS pair
        FROM (SELECT n, string_split(trim(seq), ' ') AS s FROM s2)
        WHERE len(s) >= 2),
    pc2 AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS c FROM p2 GROUP BY 1),
    top2 AS (
        SELECT pair, c,
               CAST(row_number() OVER (ORDER BY c DESC, pair) AS BIGINT)
                   AS rnk
        FROM pc2 QUALIFY rnk <= {_BPE_TOPK})
    SELECT CAST(1 AS INT) AS iteration, rnk, pair, c AS pair_count
    FROM top1
    UNION ALL
    SELECT CAST(2 AS INT) AS iteration, rnk, pair, c AS pair_count
    FROM top2
    ORDER BY iteration, rnk
    """


@query("tokenizer_bpe_train", oracle=_bpe_oracle())
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-extension — two unrolled BPE training iterations (Sennrich et
    al. 2016) over the corpus: word-type table with counts → per-word
    character-symbol sequences → weighted adjacent-pair counts → the
    argmax pair becomes merge #1, is applied corpus-wide, and the pair
    census repeats for merge #2. Emits the top-3 pairs per iteration
    (rank 1 = the learned merge) — `vocab_build`/`text_pretokenize`'s
    missing middle: the subword-vocabulary TRAINING step itself.

    Determinism: pair counts are exact integer sums over the word-TYPE
    table; the argmax tie-breaks lexicographically. Merge application
    is TWO passes of non-overlapping left-to-right regexp_replace on
    the space-delimited symbol string — one pass can skip every other
    occurrence in an adjacent run because the match consumes the
    trailing separator, and RE2 (DuckDB) has no lookahead to avoid
    that; both engines run the identical two-pass rule, so results
    agree by construction (documented deviation from strict
    single-pass BPE only on 3+ adjacent identical pairs, which the
    whitespace-tokenized corpus cannot produce).

    100 TB: everything after the first groupBy runs on the word-TYPE
    table (vocabulary-sized, not corpus-sized) — exactly why
    production BPE trainers operate on type counts; the best-pair
    scalar rides a constant-key equi-join (broadcast hash, no nested
    loop). Each additional merge is one more unrolled stage
    (kmeans_iterate's discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    seq = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("word"), ""), " "), F.lit(" ")
    )
    s1 = w.select("word", "n", seq.alias("seq"))
    s1 = s1.localCheckpoint(eager=False)  # pair census + merge application

    pair_expr = (
        "transform(sequence(1, size(s) - 1),"
        " i -> concat(element_at(s, i), '+', element_at(s, i + 1)))"
    )

    def pair_counts(sdf):
        syms = sdf.select(
            "n", F.split(F.trim(F.col("seq")), " ").alias("s")
        ).filter(F.size("s") >= 2)
        return (
            syms.select("n", F.explode(F.expr(pair_expr)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("c"))
        )

    def topk(pc):
        wr = Window.orderBy(F.desc("c"), F.asc("pair"))
        return (
            pc.orderBy(F.desc("c"), F.asc("pair"))
            .limit(_BPE_TOPK)
            .withColumn("rnk", F.row_number().over(wr).cast("long"))
        )

    top1 = topk(pair_counts(s1)).localCheckpoint(eager=False)
    # the learned merge is ONE row of vocabulary metadata — fetch it and
    # apply as literal patterns (the ops_backfill_plan bounds-scalar
    # class; a constant-key join here constant-folds into a
    # BroadcastNestedLoopJoin). Symbols are whitespace-tokenized word
    # characters — no regex metacharacters by construction.
    bp = collect_bounded(
        top1.filter(F.col("rnk") == 1), 1, "BPE first merge"
    )[0]["pair"]
    pat = " " + bp.replace("+", " ") + " "
    rep = " " + bp.replace("+", "") + " "
    merged = s1.select(
        "word",
        "n",
        F.regexp_replace(
            F.regexp_replace(F.col("seq"), pat, rep), pat, rep
        ).alias("seq"),
    )
    top2 = topk(pair_counts(merged))
    out1 = top1.select(
        F.lit(1).cast("int").alias("iteration"),
        "rnk",
        "pair",
        F.col("c").cast("long").alias("pair_count"),
    )
    out2 = top2.select(
        F.lit(2).cast("int").alias("iteration"),
        "rnk",
        "pair",
        F.col("c").cast("long").alias("pair_count"),
    )
    return out1.unionAll(out2).orderBy("iteration", "rnk")


# ---------------------------------------------------------------------------
# leakage-safe grouped split (r3s wave)
# ---------------------------------------------------------------------------

_SPLIT_SQL_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(source, ''), "
    "c -> CAST(unicode(c) AS BIGINT))), "
    "(a, b) -> (a * 131 + b) % 2147483647)"
)

_SPLIT_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source, n_chars,
           {_SPLIT_SQL_HASH} % 10 AS bucket
    FROM documents),
s AS (
    SELECT CASE WHEN bucket <= 7 THEN 'train'
                WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           source, n_chars
    FROM d),
spans AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS groups_spanning
    FROM (SELECT source FROM s GROUP BY source
          HAVING COUNT(DISTINCT split) > 1))
SELECT s.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT s.source) AS BIGINT) AS n_groups,
       CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars,
       spans.groups_spanning
FROM s, spans
GROUP BY s.split, spans.groups_spanning
ORDER BY s.split
"""


@query("split_leakage_safe", oracle=_SPLIT_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — GROUP-aware train/val/test split: every document
    is routed by the hash of its GROUP key (source here; url-domain or
    author at production scale), not its own id, so all documents of a
    group land in the same split — the standard defense against
    train/test CONTAMINATION through near-duplicates that share a
    provenance (split_train_test routes by row and is exactly the
    variant this guards against). 80/10/10 via bucket = h(source) mod
    10; the output carries per-split counts plus `groups_spanning`,
    the audited number of groups appearing in more than one split —
    structurally zero, and driver-visible so the guarantee is checked,
    not assumed.

    Portability: the group hash is the per-char polynomial fold
    (operators/text.portable_token_hash — (131·h + cp) mod 2³¹−1),
    reproduced in DuckDB by list_reduce over unicode(); swap
    xxhash64(source) at production scale, same routing semantics.

    100 TB: one narrow per-row hash (no shuffle to decide routing —
    the property that lets the split run inside the ingest write);
    the audit and rollup group by split/source with map-side combine."""
    from gcp_de_data_pipeline_cc_spark.operators.text import (
        portable_token_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(portable_token_hash(F.col("source")), F.lit(10))
    s = docs.select(
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
        "source",
        "n_chars",
    )
    s = s.localCheckpoint(eager=False)  # rollup + spanning audit
    spans = (
        s.groupBy("source")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("groups_spanning")
        )
    )
    return (
        s.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(spans))
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# contrastive hard-negative mining (r3t wave)
# ---------------------------------------------------------------------------

#: anchors: one in 25 vectors; negatives reported per anchor
_HN_NEGS = 3

#: portable-LSH candidate pruning: tables × bits (buckets = 2^bits each)
_HN_TABLES = 8
_HN_BITS = 4
_HN_DIM = 64


def _hn_bucket_cols() -> str:
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    exprs = sql_portable_lsh_buckets("embedding", _HN_TABLES, _HN_BITS, _HN_DIM)
    return ", ".join(f"{e} AS b{t}" for t, e in enumerate(exprs))


def _hn_oracle() -> str:
    collide = " OR ".join(
        f"a.b{t} = c.b{t}" for t in range(_HN_TABLES)
    )
    return f"""
    WITH a AS (
        SELECT vec_id AS anchor_id, label AS a_label,
               embedding::DOUBLE[] AS av, {_hn_bucket_cols()}
        FROM embeddings WHERE vec_id % 25 = 0),
    c AS (
        SELECT vec_id AS cand_id, label AS c_label,
               embedding::DOUBLE[] AS cv, {_hn_bucket_cols()}
        FROM embeddings),
    scored AS (
        SELECT anchor_id, a_label, cand_id, c_label,
               list_dot_product(av, cv)
                   / sqrt(list_dot_product(av, av))
                   / sqrt(list_dot_product(cv, cv)) AS cos_raw
        FROM a JOIN c
          ON anchor_id <> cand_id AND ({collide})),
    pos AS (
        SELECT anchor_id, cand_id AS pos_id, cos_raw AS pos_raw
        FROM (
            SELECT anchor_id, cand_id, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id
                       ORDER BY cos_raw DESC, cand_id) AS rn
            FROM scored WHERE c_label = a_label)
        WHERE rn = 1),
    neg AS (
        SELECT anchor_id, cand_id AS neg_id, cos_raw AS neg_raw,
               CAST(rn AS INT) AS neg_rank
        FROM (
            SELECT anchor_id, cand_id, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id
                       ORDER BY cos_raw DESC, cand_id) AS rn
            FROM scored WHERE c_label <> a_label)
        WHERE rn <= {_HN_NEGS})
    SELECT pos.anchor_id, pos.pos_id,
           FLOOR(pos.pos_raw * 10000.0 + 0.5) / 10000.0 AS pos_cos,
           neg.neg_rank, neg.neg_id,
           FLOOR(neg.neg_raw * 10000.0 + 0.5) / 10000.0 AS neg_cos,
           FLOOR((pos.pos_raw - neg.neg_raw) * 10000.0 + 0.5) / 10000.0
               AS margin
    FROM pos JOIN neg ON neg.anchor_id = pos.anchor_id
    ORDER BY pos.anchor_id, neg_rank
    """


@query("train_hard_negatives", oracle=_hn_oracle())
def train_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — contrastive HARD-NEGATIVE mining over the
    embedding table: for each anchor (vec_id % 25 = 0), candidates are
    the vectors sharing ≥1 portable-LSH bucket with the anchor (8
    tables × 4 bits, integer-exact signatures); the positive is the
    nearest SAME-label candidate and the negatives are the top-{n}
    nearest DIFFERENT-label candidates — the highest-loss negatives,
    which is what makes contrastive/triplet training converge (mining
    from the batch's easy negatives does not). Emits the triplet rows
    with the margin pos_cos − neg_cos: margins near or below zero are
    the label noise / boundary cases a curriculum would surface first.

    Exactness: bucket ids come from INTEGER hyperplane dots (quantized
    components × integer planes — order-free, bit-identical on any
    engine: operators/similarity.portable_lsh_buckets, the
    dedup_minhash portable-hash discipline), so the pruned candidate
    set is deterministic and the DuckDB oracle reproduces it exactly;
    cosines fold in fixed array order (zip_with/aggregate ↔
    list_dot_product); ranks break ties on candidate id; margins
    subtract RAW cosines before the shared 4-dp floor-round.

    100 TB: NOTHING broadcasts unbounded — anchors and candidates both
    SHUFFLE on (table_id, bucket) (the r3 verdict's anchor-broadcast
    flaw: |corpus|/25 anchors outgrow any broadcast), expected pairs ≈
    tables·|A|·n/2^bits per table with the bits/tables recall dial
    (dedup_lsh_calibration's measured S-curve); vector attachment is
    two id-keyed shuffle joins; both argmax windows are
    WindowGroupLimit-pruned per anchor."""
    scored = _hn_scored(spark, sf_dir)
    # r10 stage-count cut (guide §2.4): the pos and neg branches each
    # re-windowed the checkpointed scores by anchor (2 exchanges) and
    # then re-joined on anchor_id (2 more).  One anchor-keyed exchange
    # now serves everything: HashPartitioning(anchor_id) satisfies the
    # (anchor_id, is_pos) ranking window AND the per-anchor positive
    # broadcast window (partitioning exprs ⊆ partition keys), and the
    # pos⋈neg join disappears — the single positive row's (id, cosine)
    # ride onto its anchor's negative rows as max(CASE …) window
    # aggregates (exactly one rn = 1 positive per anchor, so the max IS
    # that row; anchors without a positive yield NULL and are dropped
    # like the old inner join dropped them).  The checkpoint goes too:
    # the scores now have a single consumer chain.
    is_pos = F.col("c_label") == F.col("a_label")
    wa = Window.partitionBy("anchor_id", "__pos").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id")
    )
    wanchor = Window.partitionBy("anchor_id")
    pos_pick = F.when(F.col("__pos") & (F.col("rn") == 1), True)
    t = (
        scored.repartition("anchor_id")
        .withColumn("__pos", is_pos)
        .withColumn("rn", F.row_number().over(wa))
        .withColumn(
            "pos_id",
            F.max(F.when(pos_pick, F.col("cand_id"))).over(wanchor),
        )
        .withColumn(
            "pos_raw",
            F.max(F.when(pos_pick, F.col("cos_raw"))).over(wanchor),
        )
    )
    return (
        t.filter(
            (~F.col("__pos"))
            & (F.col("rn") <= _HN_NEGS)
            & F.col("pos_id").isNotNull()
        )
        .select(
            "anchor_id",
            "pos_id",
            roundn(F.col("pos_raw"), 4).alias("pos_cos"),
            F.col("rn").cast("int").alias("neg_rank"),
            F.col("cand_id").alias("neg_id"),
            roundn(F.col("cos_raw"), 4).alias("neg_cos"),
            roundn(F.col("pos_raw") - F.col("cos_raw"), 4).alias("margin"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


def _hn_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned anchor×candidate cosine scores (pre-checkpoint —
    exposed so the physical-plan sweep can inspect the bucket join)."""
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        _dot,
        _norm,
        as_double_vectors,
        portable_lsh_buckets,
    )

    raw = load_table(spark, sf_dir, "embeddings")
    emb = as_double_vectors(raw)
    anchors_raw = raw.filter(F.col("vec_id") % 25 == 0)
    ab = portable_lsh_buckets(
        anchors_raw, "anchor_id", _HN_TABLES, _HN_BITS, _HN_DIM
    )
    cb = portable_lsh_buckets(raw, "cand_id", _HN_TABLES, _HN_BITS, _HN_DIM)
    pairs = (
        cb.join(ab, ["table_id", "bucket"])
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select("anchor_id", "cand_id")
        .distinct()
    )
    a = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("cv"),
    )
    return (
        pairs.join(a, "anchor_id")
        .join(c, "cand_id")
        .select(
            "anchor_id",
            "a_label",
            "cand_id",
            "c_label",
            (
                _dot(F.col("av"), F.col("cv"))
                / _norm(F.col("av"))
                / _norm(F.col("cv"))
            ).alias("cos_raw"),
        )
    )


# ---------------------------------------------------------------------------
# greedy no-straddle packing with waste accounting (r4c wave)
# ---------------------------------------------------------------------------

_PACK_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           CAST(FLOOR(doc_id / {SHARD_SIZE}) AS BIGINT) AS shard,
           CAST(LEAST(len(string_split(text, ' ')), {PACK_TOKENS})
                AS BIGINT) AS n_tok
    FROM documents),
arr AS (
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           list(n_tok ORDER BY doc_id) AS lens
    FROM d GROUP BY shard),
folded AS (
    SELECT shard, n_docs, total_tokens,
        list_reduce(
            list_prepend(list_value(CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                                    CAST(0 AS BIGINT)),
                list_transform(lens,
                    x -> list_value(x, CAST(0 AS BIGINT), CAST(0 AS BIGINT)))),
            (acc, e) -> CASE
                WHEN acc[2] = 0 THEN list_value(e[1], CAST(1 AS BIGINT),
                                                CAST(0 AS BIGINT))
                WHEN acc[1] + e[1] <= {PACK_TOKENS}
                    THEN list_value(acc[1] + e[1], acc[2], acc[3])
                ELSE list_value(e[1], acc[2] + 1,
                                acc[3] + {PACK_TOKENS} - acc[1])
                END) AS st
    FROM arr)
SELECT shard, n_docs, total_tokens,
       st[2] AS n_packs,
       st[3] + {PACK_TOKENS} - st[1] AS waste_tokens,
       (total_tokens + {PACK_TOKENS} - 1) // {PACK_TOKENS}
           AS lower_bound_packs,
       {sql_roundn(
           f"total_tokens * 1.0e0 / (st[2] * {PACK_TOKENS}.0e0)", 6
       )} AS utilization
FROM folded ORDER BY shard
"""


@query("train_pack_greedy_eval", oracle=_PACK_ORACLE)
def train_pack_greedy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — NO-STRADDLE greedy packing with waste
    accounting: documents (doc_id order per shard, lengths clipped at
    the {p}-token capacity) go into the current pack if they fit, else
    the remainder is PADDING and a new pack opens — the packing regime
    for models that forbid cross-document attention, where
    pack_sequences' concat-and-chunk (zero waste, documents straddle)
    is not allowed. Per shard: packs used, padding wasted (including
    the final pack's tail), the ⌈Σlen/cap⌉ lower bound, and
    utilization — the table that tells you what no-straddle costs and
    whether a smarter (FFD) packer is worth its shuffle.

    The running state (current fill, packs, waste) is inherently
    sequential, so it rides an ORDERED FOLD over the shard's length
    list (list-state accumulator — the ts_holt discipline) — exact
    integers throughout; only utilization divides.

    100 TB: shards are bounded ({s} docs), so each fold is a bounded
    in-array loop; shards themselves parallelize perfectly (one
    groupBy). This is exactly how a multi-worker loader packs —
    per-shard sequential, cross-shard parallel."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.floor(F.col("doc_id") / SHARD_SIZE).cast("long").alias("shard"),
        F.least(
            F.size(F.split("text", " ")).cast("long"), F.lit(PACK_TOKENS)
        ).alias("n_tok"),
    )
    arr = d.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("doc_id", F.col("n_tok").alias("x")))
            ),
            lambda s: s.getField("x"),
        ).alias("lens"),
    )
    zero = F.lit(0).cast("long")
    st = F.aggregate(
        F.col("lens"),
        F.array(zero, zero, zero),
        lambda acc, e: F.when(
            acc.getItem(1) == 0,
            F.array(e, F.lit(1).cast("long"), zero),
        )
        .when(
            acc.getItem(0) + e <= PACK_TOKENS,
            F.array(acc.getItem(0) + e, acc.getItem(1), acc.getItem(2)),
        )
        .otherwise(
            F.array(
                e,
                acc.getItem(1) + 1,
                acc.getItem(2) + F.lit(PACK_TOKENS).cast("long") - acc.getItem(0),
            )
        ),
    )
    one = F.lit(1.0)
    folded = arr.select(
        "shard", "n_docs", "total_tokens", st.alias("st")
    )
    return folded.select(
        "shard",
        "n_docs",
        "total_tokens",
        F.col("st").getItem(1).alias("n_packs"),
        (
            F.col("st").getItem(2)
            + F.lit(PACK_TOKENS).cast("long")
            - F.col("st").getItem(0)
        ).alias("waste_tokens"),
        (
            (F.col("total_tokens") + (PACK_TOKENS - 1)) / PACK_TOKENS
        ).cast("long").alias("lower_bound_packs"),
        roundn(
            F.col("total_tokens")
            * one
            / (F.col("st").getItem(1) * F.lit(float(PACK_TOKENS))),
            6,
        ).alias("utilization"),
    ).orderBy("shard")


train_pack_greedy_eval.__doc__ = train_pack_greedy_eval.__doc__.format(
    p=PACK_TOKENS, s=SHARD_SIZE
)


# ---------------------------------------------------------------------------
# first-fit-decreasing packing eval (r4 wave)
# ---------------------------------------------------------------------------

_FFD_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           CAST(FLOOR(doc_id / {SHARD_SIZE}) AS BIGINT) AS shard,
           CAST(LEAST(len(string_split(text, ' ')), {PACK_TOKENS})
                AS BIGINT) AS n_tok
    FROM documents),
arr AS (
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           list(n_tok ORDER BY n_tok DESC, doc_id) AS lens
    FROM d GROUP BY shard),
folded AS (
    SELECT shard, n_docs, total_tokens,
        list_reduce(
            list_prepend(CAST([] AS BIGINT[]),
                         list_transform(lens, x -> [x])),
            (acc, e) -> CASE
                WHEN list_min(list_filter(range(1, len(acc) + 1),
                        i -> acc[i] + e[1] <= {PACK_TOKENS})) IS NULL
                THEN list_append(acc, e[1])
                ELSE list_transform(range(1, len(acc) + 1),
                        i -> CASE WHEN i = list_min(list_filter(
                                 range(1, len(acc) + 1),
                                 j -> acc[j] + e[1] <= {PACK_TOKENS}))
                             THEN acc[i] + e[1] ELSE acc[i] END)
                END) AS bins
    FROM arr)
SELECT shard, n_docs, total_tokens,
       CAST(len(bins) AS BIGINT) AS n_packs_ffd,
       CAST(len(bins) * {PACK_TOKENS} - total_tokens AS BIGINT)
           AS waste_tokens,
       (total_tokens + {PACK_TOKENS} - 1) // {PACK_TOKENS}
           AS lower_bound_packs,
       {sql_roundn(
           f"total_tokens * 1.0e0 / (len(bins) * {PACK_TOKENS}.0e0)", 6
       )} AS utilization
FROM folded ORDER BY shard
"""


@query("train_pack_ffd_eval", oracle=_FFD_ORACLE)
def train_pack_ffd_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — FIRST-FIT-DECREASING no-straddle packing eval,
    the OFFLINE twin of train_pack_greedy_eval: when document order
    need not be preserved, sort each shard's (capacity-clipped) lengths
    descending and first-fit each into the earliest bin with room.
    FFD carries the classic 11/9·OPT+6/9 guarantee, so comparing its
    pack count against the order-preserving greedy run (and the exact
    Σ/cap lower bound, emitted) is the measured cost of the streaming
    constraint — the number that decides whether an offline re-sort
    pass is worth the shuffle.

    Exactness: a pure integer LEFT FOLD over the sorted length array
    (the train_pack_greedy_eval discipline) — bin loads, counts, and
    waste are exact int64; ties in the sort break on doc_id.

    100 TB: per-shard fold, shard width bounded ({s} docs) — the fold
    is O(docs·bins) INSIDE one row's array, never cross-row state;
    shards parallelize embarrassingly."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.floor(F.col("doc_id") / SHARD_SIZE).cast("long").alias("shard"),
        F.least(
            F.size(F.split("text", " ")), F.lit(PACK_TOKENS)
        ).cast("long").alias("n_tok"),
    )
    arr = d.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n_tok")).alias("neg"),
                                        F.col("doc_id").alias("doc_id")))
            ),
            lambda s: -s.getField("neg"),
        ).alias("lens"),
    )
    cap = F.lit(PACK_TOKENS).cast("long")

    def first_fit(acc, x):
        # sequence(1, 0) DESCENDS on an empty accumulator (the
        # market_basket pitfall) — the empty case short-circuits via a
        # lazy If branch before any sequence/element_at is evaluated
        fits = F.filter(
            F.sequence(F.lit(1), F.size(acc)),
            lambda i: F.element_at(acc, i) + x <= cap,
        )
        idx = F.array_min(fits)
        placed = F.transform(
            F.sequence(F.lit(1), F.size(acc)),
            lambda i: F.when(
                i == idx, F.element_at(acc, i) + x
            ).otherwise(F.element_at(acc, i)),
        )
        return F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(idx.isNull(), F.concat(acc, F.array(x))).otherwise(placed)
        )

    bins = F.aggregate(
        F.col("lens"),
        F.array().cast("array<bigint>"),
        first_fit,
    )
    folded = arr.select(
        "shard", "n_docs", "total_tokens", bins.alias("bins")
    )
    return folded.select(
        "shard",
        "n_docs",
        "total_tokens",
        F.size("bins").cast("long").alias("n_packs_ffd"),
        (F.size("bins").cast("long") * PACK_TOKENS - F.col("total_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.expr(f"(total_tokens + {PACK_TOKENS} - 1) DIV {PACK_TOKENS}")
        .alias("lower_bound_packs"),
        roundn(
            F.col("total_tokens")
            * F.lit(1.0)
            / (F.size("bins") * F.lit(float(PACK_TOKENS))),
            6,
        ).alias("utilization"),
    ).orderBy("shard")


train_pack_ffd_eval.__doc__ = train_pack_ffd_eval.__doc__.format(
    s=SHARD_SIZE
)


# ---------------------------------------------------------------------------
# length-bucketed batching (r4v wave)
# ---------------------------------------------------------------------------

#: number of length buckets a bucketed batch sampler would use
_LB_BUCKETS = 8

_LENGTH_BUCKETS_ORACLE = f"""
WITH lens AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lens),
rk AS (
    SELECT n_tok,
           ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn
    FROM lens),
b AS (
    SELECT CAST(((rk.rn - 1) * {_LB_BUCKETS}) // t.n AS INT) AS bucket,
           rk.n_tok
    FROM rk, t),
per AS (
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok
    FROM b GROUP BY 1),
g AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
           CAST(MAX(max_tok) AS BIGINT) AS g_max,
           CAST(SUM(sum_tok) AS BIGINT) AS g_sum,
           CAST(SUM(max_tok * n_docs - sum_tok) AS BIGINT) AS bucketed_waste
    FROM per)
SELECT per.bucket, per.n_docs, per.min_tok, per.max_tok, per.sum_tok,
       CAST(per.max_tok * per.n_docs AS BIGINT) AS padded_tok,
       CAST(per.max_tok * per.n_docs - per.sum_tok AS BIGINT) AS waste_tok,
       {sql_roundn(
           "(per.max_tok * per.n_docs - per.sum_tok) * 1.0e0"
           " / (per.max_tok * per.n_docs)", 6
       )} AS waste_pct,
       CAST(g.g_max * g.n_total - g.g_sum AS BIGINT) AS single_bucket_waste,
       g.bucketed_waste AS bucketed_total_waste,
       {sql_roundn(
           "1.0e0 - g.bucketed_waste * 1.0e0"
           " / NULLIF(g.g_max * g.n_total - g.g_sum, 0)", 6
       )} AS savings_pct
FROM per, g
ORDER BY per.bucket
"""


@query("train_length_buckets", oracle=_LENGTH_BUCKETS_ORACLE)
def train_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — length-bucketed batching audit: assign documents
    to {b} equal-population length buckets (the bucketed-batch-sampler
    layout that keeps same-batch sequences similar in length) and
    measure the padding waste each bucket still pays
    (max_len·count − Σlen) against the single-bucket baseline
    (global_max·N − Σlen).  ``savings_pct`` is the headline: how much
    padding compute the bucketing recovers.

    Exactness: bucket id is pure integer arithmetic ((rn−1)·B DIV N)
    off a deterministic total order (n_tok, doc_id); every waste
    number is exact int64; the two pct columns are single divisions
    floor-quantized at 1e-6.

    100 TB: the total order comes from the two-phase ``global_rank``
    (range exchange + per-partition row_number + broadcast offsets) —
    no single-reducer sort at any width; per-bucket stats are map-side
    combined; the global baseline is a one-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    rk = global_rank(lens, [F.col("n_tok"), F.col("doc_id")], rank_col="rn")
    t = rk.agg(F.count("*").cast("long").alias("n"))
    b = rk.crossJoin(F.broadcast(t)).select(
        F.expr(f"CAST(((rn - 1) * {_LB_BUCKETS}) DIV n AS INT)").alias(
            "bucket"
        ),
        "n_tok",
    )
    per = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
    )
    per = per.localCheckpoint(eager=False)  # per-bucket + global consumers
    g = per.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.max("max_tok").cast("long").alias("g_max"),
        F.sum("sum_tok").cast("long").alias("g_sum"),
        F.sum(F.col("max_tok") * F.col("n_docs") - F.col("sum_tok"))
        .cast("long")
        .alias("bucketed_waste"),
    )
    padded = F.col("max_tok") * F.col("n_docs")
    single = F.col("g_max") * F.col("n_total") - F.col("g_sum")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "bucket",
            "n_docs",
            "min_tok",
            "max_tok",
            "sum_tok",
            padded.cast("long").alias("padded_tok"),
            (padded - F.col("sum_tok")).cast("long").alias("waste_tok"),
            roundn(
                (padded - F.col("sum_tok")) * F.lit(1.0) / padded.cast("double"),
                6,
            ).alias("waste_pct"),
            single.cast("long").alias("single_bucket_waste"),
            F.col("bucketed_waste").alias("bucketed_total_waste"),
            roundn(
                F.lit(1.0)
                - F.col("bucketed_waste")
                * F.lit(1.0)
                / F.nullif(single, F.lit(0)).cast("double"),
                6,
            ).alias("savings_pct"),
        )
        .orderBy("bucket")
    )


train_length_buckets.__doc__ = train_length_buckets.__doc__.format(
    b=_LB_BUCKETS
)


# ---------------------------------------------------------------------------
# combined contamination report (r5h wave)
# ---------------------------------------------------------------------------

#: flag thresholds: n-gram overlap share / nearest-eval cosine
_DCR_NGRAM = 0.5
_DCR_COS = 0.8


def _decon_report_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.operators.similarity import (
        sql_portable_lsh_buckets,
    )

    b0 = sql_portable_lsh_buckets("embedding", 1, 8, 64)[0]
    return f"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, source,
               UNNEST(list_transform(range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
        FROM w WHERE len(t) >= 5),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
    hit AS (
        SELECT tr.doc_id, COUNT(*) AS n_overlap
        FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1),
    ngram AS (
        SELECT t.doc_id,
               FLOOR(COALESCE(h.n_overlap, 0) * 1.0e0 / t.n_shingles
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS overlap_ratio
        FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id),
    v AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, {b0} AS bucket,
               d.source
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
    sem_pairs AS (
        SELECT t.vec_id AS doc_id,
               FLOOR(list_dot_product(t.vec, e.vec)
                     / sqrt(list_dot_product(t.vec, t.vec))
                     / sqrt(list_dot_product(e.vec, e.vec))
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS cosine
        FROM v t JOIN v e
          ON t.bucket = e.bucket
         AND t.source <> 'src0' AND e.source = 'src0'),
    sem AS (
        SELECT doc_id, MAX(cosine) AS nearest_eval_cosine
        FROM sem_pairs GROUP BY doc_id),
    rep AS (
        SELECT n.doc_id, n.overlap_ratio, s.nearest_eval_cosine,
               CAST(n.overlap_ratio >= {_DCR_NGRAM} AS INT) AS ngram_flag,
               CAST(COALESCE(s.nearest_eval_cosine >= {_DCR_COS}, FALSE)
                    AS INT) AS semantic_flag
        FROM ngram n LEFT JOIN sem s ON s.doc_id = n.doc_id)
    SELECT doc_id, overlap_ratio, nearest_eval_cosine,
           ngram_flag, semantic_flag,
           CASE WHEN ngram_flag = 1 AND semantic_flag = 1 THEN 'both'
                WHEN ngram_flag = 1 THEN 'ngram'
                WHEN semantic_flag = 1 THEN 'semantic'
                ELSE 'clean' END AS verdict
    FROM rep
    ORDER BY overlap_ratio DESC, doc_id
    LIMIT 200
    """


@query("decontaminate_report", oracle=_decon_report_oracle())
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-curation — the COMBINED contamination report: for every
    training document, both leak detectors side by side — exact 5-gram
    overlap share against the eval source (``decontaminate``) and the
    embedding-space nearest-eval cosine (``decontaminate_semantic``),
    with one eval-set definition (source 'src0', embeddings joined by
    the doc key) and a four-way verdict (ngram / semantic / both /
    clean).  The two detectors catch disjoint failure modes — verbatim
    inclusion vs paraphrase — so the release review wants them in ONE
    table; top-200 by overlap keeps the report bounded.

    Exactness: shingle counts exact; both similarity scores single
    divisions quantized before thresholding; flags integer.

    100 TB: the n-gram side is the benchmark-sized shingle equi-join;
    the semantic side the LSH bucket equi-join with per-doc MAX —
    neither goes all-pairs; the doc↔vector join is keyed on the shared
    id.  Same plan shapes as the two parent keys, one extra dim-sized
    join each."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    w = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    sh = (
        w.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 4), i -> "
                    "concat(element_at(t, i), ' ', element_at(t, i+1), ' ', "
                    "element_at(t, i+2), ' ', element_at(t, i+3), ' ', "
                    "element_at(t, i+4)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sh = sh.localCheckpoint(eager=False)  # eval + train consumers
    ev = sh.filter(F.col("source") == "src0").select("shingle").distinct()
    tr = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = tr.join(ev, "shingle").groupBy("doc_id").agg(
        F.count("*").alias("n_overlap")
    )
    ngram = tot.join(hit, "doc_id", "left").select(
        "doc_id",
        roundn(
            F.coalesce("n_overlap", F.lit(0))
            * F.lit(1.0)
            / F.col("n_shingles").cast("double"),
            4,
        ).alias("overlap_ratio"),
    )
    from gcp_de_data_pipeline_cc_spark.operators import similarity as sim

    codes = sim.portable_lsh_buckets(
        emb, "vec_id", n_tables=1, bits=8, dim=64
    ).select("vec_id", "bucket")
    v = (
        sim.as_double_vectors(emb)
        .select("vec_id", F.col("embedding").alias("vec"))
        .join(codes, "vec_id")
        .join(
            docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
        )
    )
    v = v.localCheckpoint(eager=False)  # both join sides
    t_side = v.filter(F.col("source") != "src0").alias("t")
    e_side = v.filter(F.col("source") == "src0").alias("e")
    cos = (
        sim._dot(F.col("t.vec"), F.col("e.vec"))
        / sim._norm(F.col("t.vec"))
        / sim._norm(F.col("e.vec"))
    )
    sem = (
        t_side.join(e_side, F.col("t.bucket") == F.col("e.bucket"))
        .select(
            F.col("t.vec_id").alias("doc_id"),
            roundn(cos, 6).alias("cosine"),
        )
        .groupBy("doc_id")
        .agg(F.max("cosine").alias("nearest_eval_cosine"))
    )
    rep = ngram.join(sem, "doc_id", "left").select(
        "doc_id",
        "overlap_ratio",
        "nearest_eval_cosine",
        (F.col("overlap_ratio") >= _DCR_NGRAM).cast("int").alias("ngram_flag"),
        F.coalesce(
            (F.col("nearest_eval_cosine") >= _DCR_COS).cast("int"), F.lit(0)
        ).alias("semantic_flag"),
    )
    verdict = (
        F.when((F.col("ngram_flag") == 1) & (F.col("semantic_flag") == 1), "both")
        .when(F.col("ngram_flag") == 1, "ngram")
        .when(F.col("semantic_flag") == 1, "semantic")
        .otherwise("clean")
    )
    return (
        rep.withColumn("verdict", verdict)
        .orderBy(F.desc("overlap_ratio"), "doc_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# point-in-time feature-store join (r5j wave)
# ---------------------------------------------------------------------------

#: label sample keeps the training set bounded for the driver compare
_PIT_SAMPLE = 20

#: windowed-feature lookback (days, label-date exclusive)
_PIT_LOOKBACK = 90

#: label: "large order" threshold in cents
_PIT_LABEL_CENTS = 15_000_000


@query(
    "featurestore_point_in_time",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents,
               date_diff('day', DATE '1990-01-01',
                         CAST(o_orderdate AS DATE)) AS dnum
        FROM orders),
    f AS (
        SELECT o.*,
               LAG(cents) OVER w AS feat_prev_total_cents,
               dnum - LAG(dnum) OVER w AS feat_days_since_prev,
               CAST(COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY dnum
                   RANGE BETWEEN {_PIT_LOOKBACK} PRECEDING
                             AND 1 PRECEDING) AS BIGINT)
                   AS feat_orders_90d
        FROM o
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey))
    SELECT o_orderkey, o_custkey, o_orderdate AS label_date,
           CAST(cents >= {_PIT_LABEL_CENTS} AS INT) AS label,
           feat_prev_total_cents,
           CAST(feat_days_since_prev AS BIGINT) AS feat_days_since_prev,
           feat_orders_90d
    FROM f
    WHERE o_orderkey % {_PIT_SAMPLE} = 0
    ORDER BY o_orderkey
    """,
)
def featurestore_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — the POINT-IN-TIME-correct training-set assembly
    every feature store exists to guarantee: for each label event
    (sampled orders; label = large-order flag), attach features
    computed ONLY from strictly-earlier events of the same entity —
    the previous order's total and recency (as-of feature) and the
    {lb}-day trailing order count, label-date EXCLUSIVE (windowed
    feature).  Computing features at serving time with ≤ instead of <
    is the classic label-leakage bug; every frame here ends at
    1 PRECEDING.

    Exactness: features are integer cents / day counts off
    deterministic (date, key) event ordering — nothing to quantize.

    100 TB: features come from windows over the entity's OWN history —
    one hash exchange on the entity key serves both the lag and the
    range frame; labels are a filter of the same relation, so the
    fact is scanned once; additional feature tables join the same
    shape (as-of per entity), never a per-label re-scan."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).alias(
            "dnum"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("dnum")
        .rangeBetween(-_PIT_LOOKBACK, -1)
    )
    f = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "cents",
        F.lag("cents").over(w).alias("feat_prev_total_cents"),
        (F.col("dnum") - F.lag("dnum").over(w)).cast("long").alias(
            "feat_days_since_prev"
        ),
        F.count("*").over(wr).cast("long").alias("feat_orders_90d"),
    )
    return (
        f.filter(F.col("o_orderkey") % _PIT_SAMPLE == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").alias("label_date"),
            (F.col("cents") >= _PIT_LABEL_CENTS).cast("int").alias("label"),
            "feat_prev_total_cents",
            "feat_days_since_prev",
            "feat_orders_90d",
        )
        .orderBy("o_orderkey")
    )


featurestore_point_in_time.__doc__ = featurestore_point_in_time.__doc__.format(
    lb=_PIT_LOOKBACK
)


# ---------------------------------------------------------------------------
# T5-style span-corruption target generation (r5q wave)
# ---------------------------------------------------------------------------

#: block length: one candidate span per block keeps spans non-overlapping
_SC_BLOCK = 20

#: span length in tokens (3/20 = the T5 ~15% corruption rate)
_SC_SPAN = 3

#: coin: a block is masked when md5(doc:block) first hex < '8' (~50%)
_SC_RATE_HEX = "8"

#: preview length of the emitted sequences
_SC_HEAD = 15

#: deterministic output sample
_SC_SAMPLE = 10


@query(
    "train_span_corruption",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
        WHERE doc_id % {_SC_SAMPLE} = 0
          AND len(string_split(text, ' ')) >= {_SC_BLOCK}),
    pos AS (
        SELECT doc_id, toks, len(toks) AS n_tok,
               UNNEST(range(1, len(toks) + 1)) AS i
        FROM t),
    marked AS (
        SELECT doc_id, n_tok, i, toks[i] AS tok,
               (i - 1) // {_SC_BLOCK} AS blk,
               (i - 1) % {_SC_BLOCK} AS off,
               SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
                          CAST((i - 1) // {_SC_BLOCK} AS VARCHAR)),
                      1, 1) < '{_SC_RATE_HEX}' AS blk_on
        FROM pos),
    lab AS (
        SELECT *,
               blk_on AND off BETWEEN 0 AND {_SC_SPAN - 1} AS masked,
               blk_on AND off = 0 AS span_start
        FROM marked),
    corrupted AS (
        SELECT doc_id,
               string_agg(CASE WHEN span_start
                               THEN '<X_' || CAST(blk AS VARCHAR) || '>'
                               ELSE tok END, ' ' ORDER BY i) AS body
        FROM lab WHERE NOT masked OR span_start
        GROUP BY doc_id),
    target AS (
        SELECT doc_id,
               string_agg(CASE WHEN span_start
                               THEN '<X_' || CAST(blk AS VARCHAR) || '> '
                                    || tok
                               ELSE tok END, ' ' ORDER BY i) AS body
        FROM lab WHERE masked
        GROUP BY doc_id),
    stats AS (
        SELECT doc_id, ANY_VALUE(n_tok) AS n_tok,
               CAST(SUM(CASE WHEN span_start THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_spans,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked
        FROM lab GROUP BY doc_id)
    SELECT s.doc_id, CAST(s.n_tok AS BIGINT) AS n_tok, s.n_spans,
           s.n_masked,
           FLOOR(s.n_masked * 1.0e0 / s.n_tok * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS masked_frac,
           array_to_string(string_split(c.body, ' ')[1:{_SC_HEAD}], ' ')
               AS corrupted_head,
           array_to_string(string_split(tg.body, ' ')[1:{_SC_HEAD}], ' ')
               AS target_head
    FROM stats s
    LEFT JOIN corrupted c ON c.doc_id = s.doc_id
    LEFT JOIN target tg ON tg.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def train_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — T5-STYLE SPAN CORRUPTION (Raffel et al. 2020):
    turn raw documents into denoising (input, target) pairs by masking
    token spans with sentinel markers — input keeps the unmasked text
    with one sentinel per span, target lists each sentinel followed by
    the tokens it hides.  Spans are chosen DETERMINISTICALLY: one
    candidate {sp}-token span per {bl}-token block, switched on by an
    md5 coin per (doc, block) — ~50% of blocks → a {sp}/{bl}·0.5 ≈
    7.5% realized corruption rate, spans never overlap by
    construction (the replayable alternative to RNG masking: the same
    corpus always yields the same pairs, so training is resumable and
    the pairs are oracle-checkable).

    Exactness: masking decisions are md5-prefix comparisons; counts
    exact; the fraction one quantized division; sequence assembly is
    order-pinned by token position.

    100 TB: one positional explode per sampled doc, map-side labeled,
    reassembled by two ordered per-doc aggregations — no shuffle
    wider than (doc, token); the block coin needs no cross-row state,
    so the whole generation is embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.filter(F.col("doc_id") % _SC_SAMPLE == 0).select(
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= _SC_BLOCK)
    pos = t.select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.posexplode("toks").alias("i0", "tok"),
    ).select(
        "doc_id",
        "n_tok",
        (F.col("i0") + 1).alias("i"),
        "tok",
        (F.col("i0") / _SC_BLOCK).cast("int").alias("blk"),
        F.pmod(F.col("i0"), F.lit(_SC_BLOCK)).alias("off"),
    )
    blk_on = (
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("blk").cast("string"),
                )
            ),
            1,
            1,
        )
        < _SC_RATE_HEX
    )
    lab = pos.select(
        "doc_id",
        "n_tok",
        "i",
        "tok",
        "blk",
        (blk_on & F.col("off").between(0, _SC_SPAN - 1)).alias("masked"),
        (blk_on & (F.col("off") == 0)).alias("span_start"),
    )
    lab = lab.localCheckpoint(eager=False)  # three per-doc consumers
    sentinel = F.concat(
        F.lit("<X_"), F.col("blk").cast("string"), F.lit(">")
    )
    corrupted = (
        lab.filter(~F.col("masked") | F.col("span_start"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "i",
                                F.when(F.col("span_start"), sentinel)
                                .otherwise(F.col("tok"))
                                .alias("w"),
                            )
                        )
                    ),
                    lambda s: s.getField("w"),
                ),
                " ",
            ).alias("c_body")
        )
    )
    target = (
        lab.filter(F.col("masked"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "i",
                                F.when(
                                    F.col("span_start"),
                                    F.concat(sentinel, F.lit(" "), F.col("tok")),
                                )
                                .otherwise(F.col("tok"))
                                .alias("w"),
                            )
                        )
                    ),
                    lambda s: s.getField("w"),
                ),
                " ",
            ).alias("t_body")
        )
    )
    stats = lab.groupBy("doc_id").agg(
        F.first("n_tok").cast("long").alias("n_tok"),
        F.sum(F.col("span_start").cast("int")).cast("long").alias("n_spans"),
        F.sum(F.col("masked").cast("int")).cast("long").alias("n_masked"),
    )
    head = lambda c: F.array_join(
        F.slice(F.split(c, " "), 1, _SC_HEAD), " "
    )
    return (
        stats.join(corrupted, "doc_id", "left")
        .join(target, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "n_spans",
            "n_masked",
            roundn(
                F.col("n_masked") * F.lit(1.0) / F.col("n_tok").cast("double"),
                6,
            ).alias("masked_frac"),
            head(F.col("c_body")).alias("corrupted_head"),
            head(F.col("t_body")).alias("target_head"),
        )
        .orderBy("doc_id")
    )


train_span_corruption.__doc__ = train_span_corruption.__doc__.format(
    sp=_SC_SPAN, bl=_SC_BLOCK
)


# --------------------------------------------------------------------------
# train_shard_stratified — source-stratified shard assignment
# --------------------------------------------------------------------------

#: shard fan-out (the distributed-training file count knob)
_SHARD_N = 16


@query(
    "train_shard_stratified",
    oracle=f"""
    WITH ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk,
               n_chars
        FROM documents),
    assigned AS (
        SELECT source, (rk - 1) % {_SHARD_N} AS shard, n_chars
        FROM ranked),
    per AS (
        SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM assigned GROUP BY 1, 2),
    spread AS (
        SELECT source, MAX(n) - MIN(n) AS dev
        FROM per GROUP BY source)
    SELECT p.shard,
           CAST(SUM(p.n) AS BIGINT) AS n_docs,
           CAST(SUM(p.chars) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(MIN(p.n) AS BIGINT) AS min_source_docs,
           CAST(MAX(p.n) AS BIGINT) AS max_source_docs,
           (SELECT MAX(dev) FROM spread) <= 1 AS stratified_ok
    FROM per p
    GROUP BY p.shard
    ORDER BY p.shard
    """,
)
def train_shard_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep tier — STRATIFIED SHARDING: deal each source's
    documents round-robin (in deterministic md5-of-id order) across
    {n} shards, so EVERY shard is a representative mini-corpus — the
    property distributed training needs when each worker reads one
    shard (a worker seeing only one source learns its mix, not the
    corpus's).  `shuffle_epoch` orders rows; `corpus_sample_by_weights`
    reweights them; this key PLACES them: the three are the
    write-side trio of a training-data release.

    The audit is in-band: per-shard per-source counts can differ by at
    most 1 under round-robin (``stratified_ok`` asserts the global
    max deviation), and min/max per-source counts per shard expose the
    balance directly.

    Exactness: assignment is pure integer arithmetic on a
    deterministic rank (md5 hex ordering with doc_id tiebreak — stable
    under re-runs, the `split_train_test` discipline); all outputs are
    exact int64 counts.

    100 TB: one hash exchange on source for the rank, one on shard for
    the rollup; the shard table is {n} rows.  The write path is
    ``df.repartition(shard).write`` — the assignment column IS the
    file layout.

    Reference parity: the reference stages loads per-table into GCS
    buckets (`dags/config/pipeline_config.yaml` bucket layout);
    stratified sharding is that placement decision for training files.
    """
    docs = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    assigned = docs.select(
        "source",
        "n_chars",
        ((rk - 1) % _SHARD_N).cast("long").alias("shard"),
    )
    per = assigned.groupBy("shard", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    per = per.localCheckpoint(eager=False)  # rollup + spread consumers
    spread = per.groupBy("source").agg(
        (F.max("n") - F.min("n")).alias("dev")
    ).agg(F.max("dev").alias("max_dev"))
    return (
        per.groupBy("shard")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.count("*").cast("long").alias("n_sources"),
            F.min("n").cast("long").alias("min_source_docs"),
            F.max("n").cast("long").alias("max_source_docs"),
        )
        .crossJoin(F.broadcast(spread))
        .select(
            "shard",
            "n_docs",
            "n_chars",
            "n_sources",
            "min_source_docs",
            "max_source_docs",
            (F.col("max_dev") <= 1).alias("stratified_ok"),
        )
        .orderBy("shard")
    )


train_shard_stratified.__doc__ = train_shard_stratified.__doc__.format(
    n=_SHARD_N
)


# --------------------------------------------------------------------------
# train_preference_pairs — DPO/RLHF preference-pair construction
# --------------------------------------------------------------------------

#: minimum reward margin for a pair to count as a confident preference
#: (rewards are 24-bit: 0..16777215; ~6% of the range)
_PREF_MARGIN = 1_000_000

#: per-doc deterministic "reward-model score" (24-bit salted md5 — the
#: replayable stand-in for a scored inference pass)
_PREF_R_SQL = (
    "CAST(CAST('0x' || SUBSTR(md5('rm:' || CAST(doc_id AS VARCHAR)), 1, 6)"
    " AS BIGINT) AS BIGINT)"
)


@query(
    "train_preference_pairs",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, {_PREF_R_SQL} AS r FROM documents),
    ranked AS (
        SELECT doc_id, source, r,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY r DESC, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM scored),
    chosen AS (
        SELECT source, rk AS pair_idx, doc_id AS chosen_id, r AS r_chosen
        FROM ranked WHERE rk <= n // 2),
    rejected AS (
        SELECT source, n - rk + 1 AS pair_idx, doc_id AS rejected_id,
               r AS r_rejected
        FROM ranked WHERE rk > n - n // 2)
    SELECT c.source, CAST(c.pair_idx AS BIGINT) AS pair_idx,
           c.chosen_id, j.rejected_id,
           CAST(c.r_chosen - j.r_rejected AS BIGINT) AS margin
    FROM chosen c
    JOIN rejected j
      ON c.source = j.source AND c.pair_idx = j.pair_idx
    WHERE c.r_chosen - j.r_rejected >= {_PREF_MARGIN}
    ORDER BY c.source, pair_idx
    """,
)
def train_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep tier — PREFERENCE-PAIR construction for DPO/RLHF:
    within each source, rank documents by reward-model score and pair
    rank i (chosen) with rank n−i+1 (rejected) — the max-spread greedy
    pairing that maximizes the summed margin under a perfect matching
    on disjoint docs — keeping only pairs whose margin clears the
    confidence threshold ({m:,} of the 2²⁴ reward range).  Every doc
    lands in at most one pair (ranks partition), and
    ``margin > 0`` holds by construction (strict (r, doc_id)
    ordering); the margin filter drops low-signal pairs the DPO loss
    would waste gradient on.

    The reward is a salted-md5 24-bit channel — the replayable
    stand-in for a scored inference pass (`eval_auc_roc`'s score
    discipline); swap the scored relation for real rewards and
    nothing else changes.

    Exactness: rewards, ranks, and margins are exact int64; no floats
    exist in the key.

    100 TB: one hash exchange on source serves both rank windows; the
    pairing join is equi on (source, pair_idx) — same exchange, AQE
    co-partitions; output is ≤ |docs|/2 rows.

    Reference parity: the reference's curation tier builds
    target-shaped tables from staged data
    (dags/pipeline_orchestration_dag.py:178-208); preference pairs are
    that shaping step for alignment datasets.
    """
    docs = load_table(spark, sf_dir, "documents")
    r = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rm:"), F.col("doc_id").cast("string"))),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id", "source", r.alias("r")
    ).select(
        "doc_id",
        "source",
        "r",
        F.row_number()
        .over(w.orderBy(F.desc("r"), F.asc("doc_id")))
        .alias("rk"),
        F.count("*")
        .over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    ranked = ranked.localCheckpoint(eager=False)  # both pair sides
    chosen = ranked.where(F.col("rk") <= F.expr("n DIV 2")).select(
        "source",
        F.col("rk").cast("long").alias("pair_idx"),
        F.col("doc_id").alias("chosen_id"),
        F.col("r").alias("r_chosen"),
    )
    rejected = ranked.where(F.col("rk") > F.expr("n - n DIV 2")).select(
        "source",
        (F.col("n") - F.col("rk") + 1).cast("long").alias("pair_idx"),
        F.col("doc_id").alias("rejected_id"),
        F.col("r").alias("r_rejected"),
    )
    return (
        chosen.join(rejected, ["source", "pair_idx"])
        .where(
            F.col("r_chosen") - F.col("r_rejected") >= _PREF_MARGIN
        )
        .select(
            "source",
            "pair_idx",
            "chosen_id",
            "rejected_id",
            (F.col("r_chosen") - F.col("r_rejected"))
            .cast("long")
            .alias("margin"),
        )
        .orderBy("source", "pair_idx")
    )


train_preference_pairs.__doc__ = train_preference_pairs.__doc__.format(
    m=_PREF_MARGIN
)


# --------------------------------------------------------------------------
# tokenizer_bpe_apply — encode with a shipped merge list
# --------------------------------------------------------------------------

#: the shipped tokenizer artifact: merges in rank order (as a trained
#: BPE vocab ships — a checked-in literal list, the qc_config_rules
#: config-is-the-contract discipline).  Chosen to chain: t+h -> th,
#: th+e -> the; s+t -> st; e+r -> er; a+n -> an.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("s", "t"), ("e", "r"),
    ("a", "n"), ("an", "d"), ("o", "r"), ("l", "e"),
]

#: report the top-K final tokens
_BPE_TOP = 15


def _bpe_apply_oracle() -> str:
    merges_values = ", ".join(
        f"({i + 1}, '{x}', '{y}')" for i, (x, y) in enumerate(_BPE_MERGES)
    )
    return f"""
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
    chars AS (
        SELECT w, list_transform(range(1, length(w) + 1),
                                 i -> w[i]) AS toks
        FROM words WHERE length(w) >= 1),
    merges AS (SELECT * FROM (VALUES {merges_values}) m(rank, mx, my)),
    encoded AS (
        SELECT w,
               CAST(length(w) AS BIGINT) AS n_chars,
               list_reduce(
                   list_prepend(
                       toks,
                       (SELECT list(list_value(mx, my) ORDER BY rank)
                        FROM merges)),
                   (acc, m) -> list_reduce(
                       list_prepend(
                           []::VARCHAR[],
                           list_transform(acc, t -> list_value(t))),
                       (b, el) -> CASE
                           WHEN len(b) >= 1 AND b[len(b)] = m[1]
                                AND el[1] = m[2]
                           THEN list_concat(
                                list_slice(b, 1, len(b) - 1),
                                list_value(m[1] || m[2]))
                           ELSE list_concat(b, list_value(el[1]))
                       END)) AS toks2
        FROM chars),
    flat AS (SELECT UNNEST(toks2) AS tok FROM encoded)
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(LENGTH(tok) AS BIGINT) AS tok_len,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM encoded)
               AS corpus_chars,
           (SELECT CAST(SUM(CAST(len(toks2) AS BIGINT)) AS BIGINT)
            FROM encoded) AS corpus_tokens
    FROM flat
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT {_BPE_TOP}
    """


@query("tokenizer_bpe_apply", oracle=_bpe_apply_oracle())
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep tier — BPE ENCODE with a SHIPPED merge list: the
    inference-side twin of `tokenizer_bpe_train` (that key learns
    merges; real pipelines APPLY a frozen artifact — the checked-in
    rank-ordered literal list here, the config-is-the-contract
    discipline).  Each word explodes to characters and the merge list
    folds over it in rank order; applying ONE merge is itself a left
    fold over the token array (append, or fuse when the accumulator's
    tail equals x and the incoming token equals y — greedy
    left-to-right, the BPE convention, so chained merges like
    t+h→th, th+e→the compose within a single word).  Reports the
    top-{k} tokens of the encoded corpus with the corpus-level
    chars→tokens compression evidence.

    Exactness: pure string/integer set algebra — no floats exist.

    100 TB: the fold runs on the VOCABULARY, not the corpus — words
    collapse to (distinct word, frequency) first (Zipf makes that
    orders of magnitude smaller) and every count weights by frequency;
    the merge artifact is a compile-time literal — at real vocab sizes
    it broadcasts.

    Cites: Sennrich et al. 2016 (BPE); the fold-per-merge form is the
    reference implementation's loop, vectorized per word.
    """
    docs = load_table(spark, sf_dir, "documents")
    # encode each DISTINCT word once and weight by frequency — the
    # 100 TB shape: the fold runs on the VOCABULARY, not the corpus
    # (a Zipfian corpus has orders of magnitude fewer distinct words
    # than tokens; measured 13.9 s -> ~1 s at sf0.1)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    chars = words.select(
        "w",
        "freq",
        F.length("w").cast("long").alias("n_chars"),
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("toks"),
    )
    def _apply_merge(prev, x: str, y: str):
        merged = F.lit(x + y)

        def _step(acc, t):
            return F.when(
                (F.size(acc) >= 1)
                & (F.element_at(acc, -1) == x)
                & (t == F.lit(y)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(t)))

        return F.aggregate(
            prev, F.array().cast("array<string>"), _step
        )

    enc = F.col("toks")
    for x, y in _BPE_MERGES:
        enc = _apply_merge(enc, x, y)
    encoded = chars.select("w", "freq", "n_chars", enc.alias("toks"))
    encoded = encoded.localCheckpoint(eager=False)  # totals + token rows
    tot = encoded.agg(
        F.sum(F.col("n_chars") * F.col("freq"))
        .cast("long")
        .alias("corpus_chars"),
        F.sum(F.size("toks") * F.col("freq"))
        .cast("long")
        .alias("corpus_tokens"),
    )
    flat = encoded.select(F.explode("toks").alias("tok"), "freq")
    return (
        flat.groupBy("tok")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .select(
            "tok",
            "n_occurrences",
            F.length("tok").cast("long").alias("tok_len"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tok", "n_occurrences", "tok_len",
            "corpus_chars", "corpus_tokens",
        )
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(_BPE_TOP)
    )


tokenizer_bpe_apply.__doc__ = tokenizer_bpe_apply.__doc__.format(
    k=_BPE_TOP
)


# ---------------------------------------------------------------------------
# curriculum schedule (r5d wave)
# ---------------------------------------------------------------------------

#: curriculum phases (easy -> hard), split on equal TOKEN budget
_CUR_PHASES = 4

_CURRICULUM_ORACLE = f"""
WITH lens AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
    FROM documents),
sc AS (
    SELECT doc_id, n_tok,
           n_tok * 1000000
               + (n_chars * 1000) // GREATEST(n_tok, 1) AS difficulty
    FROM lens),
rk AS (
    SELECT doc_id, n_tok, difficulty,
           SUM(n_tok) OVER (ORDER BY difficulty, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
    FROM sc),
t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM sc),
ph AS (
    SELECT CAST(((rk.cum_tok - 1) * {_CUR_PHASES}) // t.total AS BIGINT)
               AS phase,
           rk.n_tok, rk.difficulty, t.total
    FROM rk, t)
SELECT phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS phase_tokens,
       CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
       CAST(MAX(difficulty) AS BIGINT) AS max_difficulty,
       {sql_roundn("SUM(n_tok) * 1.0e0 / MAX(total)", 6)} AS token_share
FROM ph
GROUP BY phase
ORDER BY phase
"""


@query("train_curriculum_schedule", oracle=_CURRICULUM_ORACLE)
def train_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-prep — CURRICULUM schedule: order the corpus easy→hard
    by a deterministic integer difficulty score (primary: token count;
    within a length, mean word length in milli-chars — longer docs of
    longer words are read later) and cut it into {p} phases of EQUAL
    TOKEN BUDGET (not doc count — phases cost compute in tokens), the
    standard curriculum/anti-curriculum data layout.  Per phase:
    docs, tokens, the difficulty band it spans, and its realized token
    share.  Monotone band edges (min_difficulty of phase i ≥
    max_difficulty of phase i−1 up to boundary ties) are the
    correctness law the wave test asserts.

    Exactness: difficulty = n_tok·10⁶ + (chars·1000) DIV n_tok — pure
    int64; phase id = ((cum_tok−1)·{p}) DIV total off the
    deterministic (difficulty, doc_id) total order; only token_share
    divides, floor-quantized at 1e-6.

    100 TB: the order + running token sum come from ONE two-phase
    global_rank pass (range exchange + __pid offsets — the r5 audit
    discipline: an entity-sized cumulative never single-reducers);
    per-phase stats are map-side combined; the total rides a one-row
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias(
            "n_chars"
        ),
    )
    sc = lens.select(
        "doc_id",
        "n_tok",
        (
            F.col("n_tok") * F.lit(1000000)
            + F.expr("(n_chars * 1000) DIV GREATEST(n_tok, 1)")
        ).alias("difficulty"),
    )
    rk = global_rank(
        sc,
        [F.col("difficulty"), F.col("doc_id")],
        rank_col="__rn",
        cumsum_col="cum_tok",
        value_col="n_tok",
    )
    t = sc.agg(F.sum("n_tok").cast("long").alias("total"))
    ph = rk.crossJoin(F.broadcast(t)).select(
        F.expr(f"CAST(((cum_tok - 1) * {_CUR_PHASES}) DIV total AS BIGINT)")
        .alias("phase"),
        "n_tok",
        "difficulty",
        "total",
    )
    return (
        ph.groupBy("phase")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("phase_tokens"),
            F.min("difficulty").cast("long").alias("min_difficulty"),
            F.max("difficulty").cast("long").alias("max_difficulty"),
            roundn(
                F.sum("n_tok") * F.lit(1.0) / F.max("total"), 6
            ).alias("token_share"),
        )
        .orderBy("phase")
    )


train_curriculum_schedule.__doc__ = train_curriculum_schedule.__doc__.format(
    p=_CUR_PHASES
)
