"""Sketch algebra wave: MERGEABLE MinHash sketches at corpus scope.

`dedup_minhash` (plans/llm.py) uses MinHash per document to find
near-dup pairs. This wave exercises the property that makes sketches
the 100 TB tool: they MERGE. A MinHash signature is an elementwise MIN,
so the signature of a UNION of sets is the elementwise MIN of the
parts' signatures — per-partition partial sketches combine
associatively into per-source sketches with no rescan, exactly like a
partial aggregate (and exactly how HLL sketches roll up in
`sketch_hll_rollup`).

**sketch_minhash_union** — per-SOURCE corpus signatures built by
min-merging the per-document signatures, then a pairwise source
similarity matrix: est_jaccard(a, b) = fraction of agreeing signature
components (the standard unbiased MinHash estimator), reported beside
the EXACT source-level shingle Jaccard so the estimate's error is
driver-visible in every row.

Exactness: the portable per-char shingle hash + seed-42 affine perms
(operators/dedup) make every signature component exact integer
arithmetic both engines reproduce bit-for-bit; the estimator is a
count/16 (a dyadic rational — exact in doubles). Only the exact-Jaccard
ratio is rounded, identically, at projection.

100 TB scale: per-doc signatures are one explode+groupBy carrying
(doc, hash) longs; the source merge is a second tiny aggregate over
|docs| fixed-width rows (map-side combined — this is the mergeability
argument in action). The pairwise stage runs over |sources| sketch
rows, unpivoted to (source, component) and equi-joined on the
component index — bounded by |sources|² · 16 with no row-data
involvement, and no nested-loop join. The exact-Jaccard audit column
is the one piece that would be sampled (not dropped) at frontier
scale; its shingle self-join is the Σ|bucket|² profile shared with
`dedup_ngram_jaccard`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fan_out, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators import dedup as dd
from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank
from gcp_de_data_pipeline_cc_spark.operators.text import SHINGLES_SQL
from gcp_de_data_pipeline_cc_spark.plans.llm import _MINHASH_CHARFOLD
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: signature width — 16 components keeps the estimator grid at 1/16
_PERMS = 16


def _union_oracle() -> str:
    params = dd._hash_params(_PERMS)
    doc_sigs = ",\n               ".join(
        f"MIN(({a} * h + {b}) % 2147483647) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    src_sigs = ",\n               ".join(
        f"MIN(sig_{i}) AS sig_{i}" for i in range(_PERMS)
    )
    agree = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
        for i in range(_PERMS)
    )
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source, UNNEST({SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents)
        WHERE len(t) >= 3),
    h AS (SELECT doc_id, source, {_MINHASH_CHARFOLD} AS h FROM sh),
    doc_sig AS (
        SELECT doc_id, source,
               {doc_sigs}
        FROM h GROUP BY 1, 2),
    src_sig AS (
        SELECT source,
               {src_sigs}
        FROM doc_sig GROUP BY 1),
    est AS (
        SELECT a.source AS src_a, b.source AS src_b,
               ({agree}) / 16.0e0 AS est_jaccard
        FROM src_sig a JOIN src_sig b ON a.source < b.source),
    ssh AS (SELECT DISTINCT source, shingle FROM sh),
    cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM ssh GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ssh a JOIN ssh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2),
    ex AS (
        SELECT i.src_a, i.src_b,
               i.n_both * 1.0e0 / (ca.n + cb.n - i.n_both) AS exact_raw
        FROM inter i
        JOIN cnt ca ON ca.source = i.src_a
        JOIN cnt cb ON cb.source = i.src_b)
    SELECT e.src_a, e.src_b, e.est_jaccard,
           {sql_roundn("COALESCE(ex.exact_raw, 0.0e0)", 6)} AS exact_jaccard,
           {sql_roundn(
               "ABS(e.est_jaccard - COALESCE(ex.exact_raw, 0.0e0))", 6
           )} AS abs_err
    FROM est e
    LEFT JOIN ex ON ex.src_a = e.src_a AND ex.src_b = e.src_b
    ORDER BY e.src_a, e.src_b
    """


@query("sketch_minhash_union", oracle=_union_oracle())
def sketch_minhash_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-merge per-doc MinHash signatures into per-source corpus
    sketches, estimate every pairwise source Jaccard from component
    agreement, and audit against the exact shingle Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE (doc, source, shingle) relation feeds the signature build AND
    # the exact-audit self-join (census: 4 documents scans → 1)
    from gcp_de_data_pipeline_cc_spark.operators.text import shingles_col, tokens_col

    sh3 = (
        fan_out(docs.select("doc_id", "source", "text"))
        .withColumn("toks", tokens_col(F.col("text")))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(shingles_col(F.col("toks"), 3)).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sigs = dd.minhash_signatures(
        docs, num_perms=_PERMS, k=3, shingles=sh3.select("doc_id", "shingle")
    )
    src_map = sh3.select("doc_id", "source").distinct()
    # the mergeability step: per-source sketch = elementwise MIN of the
    # per-doc sketches (associative — partials combine map-side)
    per_source = (
        sigs.join(src_map, "doc_id")
        .groupBy("source")
        .agg(*[F.min(f"sig_{i}").alias(f"sig_{i}") for i in range(_PERMS)])
    )
    # both sides of the pairwise self-join consume the sketch table —
    # materialize the |sources| rows once or the whole signature build
    # (explode + 16-way min agg) plans twice (census diamond rule)
    per_source = per_source.localCheckpoint(eager=False)
    stack_args = ", ".join(f"{i}, sig_{i}" for i in range(_PERMS))
    comp = per_source.select(
        "source", F.expr(f"stack({_PERMS}, {stack_args}) as (i, sig)")
    )
    a, b = comp.alias("a"), comp.alias("b")
    est = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            (
                F.sum(
                    F.when(F.col("a.sig") == F.col("b.sig"), 1).otherwise(0)
                )
                / F.lit(16.0)
            ).alias("est_jaccard")
        )
    )
    # two self-join sides + the size rollup consume it — materialize
    ssh = sh3.select("source", "shingle").distinct().localCheckpoint(eager=False)
    cnt = ssh.groupBy("source").agg(F.count("*").alias("n"))
    sa, sb = ssh.alias("sa"), ssh.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.source") < F.col("sb.source")),
        )
        .groupBy(
            F.col("sa.source").alias("src_a"),
            F.col("sb.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    ex = (
        inter.join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            (
                F.col("n_both")
                * F.lit(1.0)
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            ).alias("exact_raw"),
        )
    )
    exact_raw = F.coalesce(F.col("exact_raw"), F.lit(0.0))
    return (
        est.join(ex, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_jaccard",
            roundn(exact_raw, 6).alias("exact_jaccard"),
            roundn(F.abs(F.col("est_jaccard") - exact_raw), 6).alias(
                "abs_err"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (heavy-hitter frequency estimation)
# ---------------------------------------------------------------------------

#: Count-Min geometry — D independent rows of W counters
_CM_D = 4
_CM_W = 256
_CM_SEED = 7

#: heavy hitters audited against the sketch
_CM_TOPK = 25


def _countmin_oracle() -> str:
    params = dd._hash_params(_CM_D, seed=_CM_SEED)
    charfold = _MINHASH_CHARFOLD.replace("shingle", "token")
    cell_selects = "\n            UNION ALL\n            ".join(
        f"SELECT {j} AS j, (({a} * h + {b}) % 2147483647) % {_CM_W} AS bucket,"
        f" n FROM h"
        for j, (a, b) in enumerate(params)
    )
    probe_selects = "\n            UNION ALL\n            ".join(
        f"SELECT token, n, {j} AS j,"
        f" (({a} * h + {b}) % 2147483647) % {_CM_W} AS bucket FROM topk"
        for j, (a, b) in enumerate(params)
    )
    return f"""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
    cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM tok GROUP BY 1),
    h AS (SELECT token, n, {charfold} AS h FROM cnt),
    cells AS (
        SELECT j, bucket, CAST(SUM(n) AS BIGINT) AS cell_n
        FROM ({cell_selects})
        GROUP BY 1, 2),
    topk AS (SELECT token, n, h FROM h ORDER BY n DESC, token
             LIMIT {_CM_TOPK}),
    probes AS ({probe_selects}),
    est AS (
        SELECT p.token, p.n, MIN(c.cell_n) AS est_n
        FROM probes p
        JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
        GROUP BY 1, 2)
    SELECT token, n AS exact_n, est_n, est_n - n AS overcount
    FROM est ORDER BY exact_n DESC, token
    """


@query("sketch_countmin", oracle=_countmin_oracle())
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream (D=4 rows × W=256
    counters, portable affine hashes): the fixed-size frequency
    structure that answers "how often does token X appear" at any
    scale, audited against the exact counts for the top-25 heavy
    hitters. CMS never underestimates — ``overcount`` is the observed
    collision error (ε ≈ e/W of the stream mass, w.h.p.).

    Mergeable like every sketch here: cells add associatively, so
    per-partition partial sketches combine map-side exactly like a
    partial aggregate. 100 TB: the sketch is built from the per-token
    partial counts (one explode + groupBy carrying longs); cells are
    D·W fixed rows broadcast to the probe side; the exact-count audit
    is what a production build samples rather than computes."""
    docs = load_table(spark, sf_dir, "documents")
    params = dd._hash_params(_CM_D, seed=_CM_SEED)
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    from gcp_de_data_pipeline_cc_spark.operators.text import (
        MERSENNE_31,
        portable_token_hash,
    )

    h = cnt.withColumn("h", portable_token_hash(F.col("token")))
    # token counts feed BOTH the cell build and the top-k probe side
    h = h.localCheckpoint(eager=False)
    buckets = F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_31))
            .__mod__(F.lit(_CM_W))
            .alias("bucket"),
        )
        for j, (a, b) in enumerate(params)
    ])
    cells = (
        h.select(F.explode(buckets).alias("jb"), "n")
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.sum("n").alias("cell_n"))
    )
    topk = h.orderBy(F.desc("n"), F.asc("token")).limit(_CM_TOPK)
    probes = topk.select("token", "n", F.explode(buckets).alias("jb")).select(
        "token", "n", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token", "n")
        .agg(F.min("cell_n").alias("est_n"))
    )
    return est.select(
        "token",
        F.col("n").alias("exact_n"),
        "est_n",
        (F.col("est_n") - F.col("n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), F.asc("token"))


# ---------------------------------------------------------------------------
# Bloom filter (approximate membership with measured FPR)
# ---------------------------------------------------------------------------

#: Bloom geometry — M bits, K hash functions
_BF_M = 65536
_BF_K = 4
_BF_SEED = 11


def _bloom_oracle() -> str:
    params = dd._hash_params(_BF_K, seed=_BF_SEED)
    bit_selects = "\n            UNION ALL\n            ".join(
        f"SELECT {j} AS j, (({a} * k + {b}) % 2147483647) % {_BF_M} AS bit"
        f" FROM keys"
        for j, (a, b) in enumerate(params)
    )
    probe_selects = "\n            UNION ALL\n            ".join(
        f"SELECT c_custkey, {j} AS j,"
        f" (({a} * c_custkey + {b}) % 2147483647) % {_BF_M} AS bit"
        f" FROM customer"
        for j, (a, b) in enumerate(params)
    )
    return f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (SELECT DISTINCT j, bit FROM ({bit_selects})),
    probes AS ({probe_selects}),
    hits AS (
        SELECT p.c_custkey,
               CAST(SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM probes p
        LEFT JOIN bits b ON b.j = p.j AND b.bit = p.bit
        GROUP BY 1),
    verdict AS (
        SELECT h.c_custkey, h.n_hit = {_BF_K} AS bloom_pos,
               k.k IS NOT NULL AS is_member
        FROM hits h LEFT JOIN keys k ON k.k = h.c_custkey)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN bloom_pos AND is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_pos,
           CAST(SUM(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT bloom_pos AND is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg,
           {sql_roundn(
               "SUM(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END)"
               " * 1.0e0"
               " / NULLIF(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 0)",
               6,
           )} AS fpr
    FROM verdict
    """


@query("sketch_bloom", oracle=_bloom_oracle())
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter (M=65536 bits, K=4 affine hashes) over the
    active-customer key set, probed with EVERY customer and audited:
    true/false positives, the structurally-impossible false negatives
    (must be 0), and the observed false-positive rate.

    This is `join_bloom_pruned`'s engine-internal primitive made
    engine-portable and driver-checkable. Mergeable: bit sets OR-merge,
    so per-partition partial filters combine associatively. 100 TB: the
    filter is ≤ M set-bit rows regardless of input size (broadcast to
    the probe side); build and probe each carry only (j, bit) longs."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    from gcp_de_data_pipeline_cc_spark.operators.text import MERSENNE_31

    params = dd._hash_params(_BF_K, seed=_BF_SEED)

    def _bits(key_col):
        return F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(F.lit(a) * key_col + F.lit(b), F.lit(MERSENNE_31))
                .__mod__(F.lit(_BF_M))
                .alias("bit"),
            )
            for j, (a, b) in enumerate(params)
        ])

    keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    keys = keys.localCheckpoint(eager=False)  # feeds bits AND membership
    bits = (
        keys.select(F.explode(_bits(F.col("k"))).alias("jb"))
        .select(F.col("jb.j").alias("j"), F.col("jb.bit").alias("bit"))
        .distinct()
    )
    bits = bits.localCheckpoint(eager=False)  # scalar count + probe join
    probes = cust.select(
        "c_custkey", F.explode(_bits(F.col("c_custkey"))).alias("jb")
    ).select("c_custkey", F.col("jb.j").alias("j"), F.col("jb.bit").alias("bit"))
    hits = (
        probes.join(F.broadcast(bits.withColumn("present", F.lit(1))), ["j", "bit"], "left")
        .groupBy("c_custkey")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_hit"))
    )
    member = keys.withColumnRenamed("k", "c_custkey").withColumn(
        "is_member_i", F.lit(1)
    )
    verdict = hits.join(F.broadcast(member), "c_custkey", "left").select(
        (F.col("n_hit") == _BF_K).alias("bloom_pos"),
        F.coalesce(F.col("is_member_i"), F.lit(0)).__eq__(1).alias("is_member"),
    )
    n_keys = keys.count()
    n_bits = bits.count()
    fp = F.sum(F.when(F.col("bloom_pos") & ~F.col("is_member"), 1).otherwise(0))
    non_member = F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
    return verdict.agg(
        F.lit(n_keys).cast("long").alias("n_keys"),
        F.lit(n_bits).cast("long").alias("n_bits_set"),
        F.count("*").alias("n_probes"),
        F.sum(F.when(F.col("bloom_pos") & F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_pos"),
        fp.cast("long").alias("n_false_pos"),
        F.sum(F.when(~F.col("bloom_pos") & F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
        roundn(fp * F.lit(1.0) / F.nullif(non_member, F.lit(0)), 6).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# dedup accuracy eval (MinHash recall vs the exact similarity join)
# ---------------------------------------------------------------------------


def _dedup_eval_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.plans.llm import _minhash_oracle

    exact_pairs = f"""
        WITH {dd.shingle_overlap_sql()}
        {dd.JACCARD_PAIRS_SQL}"""
    return f"""
    WITH ex AS (SELECT doc_a, doc_b FROM ({exact_pairs})),
    mh AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
          FROM ex JOIN mh USING (doc_a, doc_b)),
    s AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_minhash,
                 (SELECT n_common FROM c) AS n_common)
    SELECT n_exact, n_minhash, n_common,
           {sql_roundn("n_common * 1.0e0 / NULLIF(n_minhash, 0)", 6)}
               AS precision,
           {sql_roundn("n_common * 1.0e0 / NULLIF(n_exact, 0)", 6)}
               AS recall,
           {sql_roundn(
               "2.0e0 * n_common / NULLIF(n_minhash + n_exact, 0)", 6
           )} AS f1
    FROM s
    """


@query("dedup_accuracy_eval", oracle=_dedup_eval_oracle())
def dedup_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 meta-evaluation, driver-visible: MinHash+LSH's pair set scored
    against the exact 3-gram-Jaccard similarity join (threshold 0.5) as
    precision / recall / F1 in one scalar row. Because the LSH pipeline
    VERIFIES candidates with the exact Jaccard, precision is provably
    1.0 — the row demonstrates it — and recall isolates banding misses
    (the S-curve's knee), the one true approximation in the scale path.

    100 TB: this is an audit query — run on a sampled corpus slice; both
    operand pipelines are the already-measured shingle-join and
    banded-LSH plans."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE materialized shingle relation feeds all three consumers (the
    # exact join, the LSH signature build, and the LSH verify pass) —
    # without the injection each operator re-runs tokenize+explode
    # (measured 9.1 s → shared relation at sf0.1). r9: both relations
    # now come from the SESSION caches (llm.corpus_shingles /
    # llm.corpus_dup_pairs — the same full-corpus 3-gram relation and
    # the same threshold-0.5 exact pair set), so a session that already
    # paid the dedup build shares it here and vice versa.
    from gcp_de_data_pipeline_cc_spark.plans import llm

    sh = llm.corpus_shingles(spark, sf_dir)
    # ONE exact-Jaccard pair set (already at the 0.5 threshold — the
    # verify pass filters to the same bound) feeds both the exact side
    # and the LSH verify via the jaccard_pairs injection (A/B-measured
    # back-to-back at sf0.1: 9.7 s → 7.7 s warm)
    qual = llm.corpus_dup_pairs(spark, sf_dir)
    ex = qual.select("doc_a", "doc_b")
    mh = dd.minhash_lsh_pairs(
        docs,
        threshold=0.5,
        shingles=sh,
        jaccard_pairs=qual,
        jaccard_pairs_threshold=0.5,
    ).select("doc_a", "doc_b")
    ex = ex.localCheckpoint(eager=False)
    mh = mh.localCheckpoint(eager=False)
    n_exact = ex.count()
    n_minhash = mh.count()
    n_common = ex.join(mh, ["doc_a", "doc_b"]).count()
    row = spark.createDataFrame(
        [(n_exact, n_minhash, n_common)],
        "n_exact BIGINT, n_minhash BIGINT, n_common BIGINT",
    )
    return row.select(
        "n_exact",
        "n_minhash",
        "n_common",
        roundn(
            F.col("n_common") * F.lit(1.0) / F.nullif(F.col("n_minhash"), F.lit(0)),
            6,
        ).alias("precision"),
        roundn(
            F.col("n_common") * F.lit(1.0) / F.nullif(F.col("n_exact"), F.lit(0)),
            6,
        ).alias("recall"),
        roundn(
            F.lit(2.0) * F.col("n_common")
            / F.nullif(F.col("n_minhash") + F.col("n_exact"), F.lit(0)),
            6,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# portable HyperLogLog (oracle-paired cardinality sketch)
# ---------------------------------------------------------------------------

#: HLL geometry: m = 2^_HLL_P registers
_HLL_P = 8
_HLL_M = 1 << _HLL_P

#: alpha_256 — the same literal expression evaluates on both engines
_HLL_ALPHA_EXPR = "0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)"


def hll_mix(df: DataFrame, key_col: str) -> DataFrame:
    """Portable integer key mixer → column ``h`` in [0, 2^31-1).

    Two LCG steps with an xorshift between — 31-bit lanes so every
    product stays under 2^62 (DuckDB BIGINT errors on overflow rather
    than wrapping). The xorshift is the load-bearing part: a lone
    affine hash maps sequential keys to an arithmetic progression whose
    three-distance gap structure breaks HLL's geometric-tail assumption
    (measured +40-90% estimate bias on the TPC-H key space).
    """
    return (
        df.withColumn(
            "h1",
            F.pmod(F.lit(1103515245) * F.col(key_col) + F.lit(12345),
                   F.lit(2147483647)),
        )
        .withColumn("h1x", F.expr("h1 ^ shiftright(h1, 16)"))
        .withColumn(
            "h2",
            F.pmod(F.lit(69069) * F.col("h1x") + F.lit(362437),
                   F.lit(2147483647)),
        )
        .withColumn(
            "h",
            F.pmod(F.expr("h2 ^ shiftright(h2, 10)"), F.lit(2147483647)),
        )
        .drop("h1", "h1x", "h2")
    )


def _hll_oracle() -> str:
    return f"""
    /* hash = two LCG steps with xorshift mixing between (31-bit lanes,
       products < 2^62 so DuckDB BIGINT never overflows). A single
       affine hash is only 2-universal: on SEQUENTIAL keys it emits an
       arithmetic progression mod P whose three-distance-theorem gap
       structure plants tiny w values in many buckets and inflated the
       raw estimate ~40-90% (measured); the xorshift breaks the
       linearity and restores the geometric rho tail. */
    WITH k AS (SELECT DISTINCT o_custkey AS key FROM orders),
    m1 AS (SELECT key, (1103515245 * key + 12345) % 2147483647 AS h1
           FROM k),
    m2 AS (SELECT key, xor(h1, h1 // 65536) AS h1x FROM m1),
    m3 AS (SELECT key, (69069 * h1x + 362437) % 2147483647 AS h2
           FROM m2),
    h AS (SELECT key, xor(h2, h2 // 1024) % 2147483647 AS h FROM m3),
    bw AS (SELECT h % {_HLL_M} AS bucket, h // {_HLL_M} AS w FROM h),
    rho AS (
        SELECT bucket,
               CASE WHEN w = 0 THEN 24
                    ELSE 24 - length(bin(w)) END AS r
        FROM bw),
    reg AS (SELECT bucket, MAX(r) AS m_j FROM rho GROUP BY bucket),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nonempty,
               SUM(1.0e0 / CAST(1 << m_j AS DOUBLE)) AS sum_nonempty
        FROM reg),
    est AS (
        SELECT n_nonempty,
               CAST({_HLL_M} - n_nonempty AS BIGINT) AS v_zero,
               ({_HLL_M} - n_nonempty) * 1.0e0 + sum_nonempty AS sum_inv
        FROM s),
    x AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM k)
    SELECT CAST({_HLL_M} AS BIGINT) AS m, n_nonempty, v_zero, sum_inv,
           {sql_roundn(
               f"{_HLL_ALPHA_EXPR} * {_HLL_M}.0e0 * {_HLL_M}.0e0 / sum_inv",
               4,
           )} AS raw_est,
           exact_distinct,
           {sql_roundn(
               f"ABS({_HLL_ALPHA_EXPR} * {_HLL_M}.0e0 * {_HLL_M}.0e0"
               " / sum_inv - exact_distinct) / exact_distinct",
               6,
           )} AS rel_err
    FROM est, x
    """


@query("sketch_hll_portable", oracle=_hll_oracle())
def sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-PORTABLE HyperLogLog (p=8, 256 registers) over the active
    customer key set, with the exact distinct count and relative error
    in the same row — the cardinality sketch made oracle-paired, the
    same upgrade the portable hash gave MinHash/SimHash in round 3
    (`sketch_hll_rollup` keeps Spark's built-in HLL++ as the
    production-native path; its register format isn't reproducible
    outside the JVM, this one is reproducible anywhere).

    Every step is exact: LCG+xorshift key mixer (a lone affine hash is
    2-universal only — on sequential keys its arithmetic-progression
    gap structure inflated the estimate ~40-90%, measured; see the
    oracle comment) → bucket/w split by integer div/mod; rho from the
    BINARY-STRING length of w (floor(log2)+1 as string arithmetic — no
    float log); register harmonic sum is a sum
    of dyadic rationals whose partial sums fit 32 bits of precision, so
    the double addition is EXACT in any order; the single inexact step
    (alpha·m²/Σ) is the identical literal expression on both engines,
    rounded at projection. The raw estimator is emitted WITHOUT the
    small-range linear-counting branch — that correction needs ln(),
    which is libm-dependent and would break cross-engine determinism;
    the law test bounds accuracy instead (1.04/√m ≈ 6.5% σ).

    100 TB: registers max-merge associatively (the law test merges
    odd/even key partitions) — the sketch IS a 256-row partial
    aggregate; the shuffle carries (bucket, rho) pairs."""
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("key")).distinct()
    keys = keys.localCheckpoint(eager=False)  # registers + exact count
    h = hll_mix(keys, "key")
    bw = h.select(
        F.pmod(F.col("h"), F.lit(_HLL_M)).alias("bucket"),
        (F.col("h") / F.lit(_HLL_M)).cast("long").alias("w"),
    )
    rho = bw.select(
        "bucket",
        F.when(F.col("w") == 0, F.lit(24))
        .otherwise(F.lit(24) - F.length(F.bin(F.col("w"))))
        .alias("r"),
    )
    reg = rho.groupBy("bucket").agg(F.max("r").alias("m_j"))
    s = reg.agg(
        F.count("*").alias("n_nonempty"),
        F.sum(
            F.lit(1.0)
            / F.expr("cast(shiftleft(1L, cast(m_j as int)) as double)")
        ).alias("sum_nonempty"),
    )
    exact = keys.count()
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    sum_inv = (
        (F.lit(_HLL_M) - F.col("n_nonempty")) * F.lit(1.0)
        + F.col("sum_nonempty")
    )
    raw = alpha * F.lit(float(_HLL_M)) * F.lit(float(_HLL_M)) / F.col("sum_inv")
    return (
        s.select(
            F.lit(_HLL_M).cast("long").alias("m"),
            F.col("n_nonempty").cast("long").alias("n_nonempty"),
            (F.lit(_HLL_M) - F.col("n_nonempty")).cast("long").alias("v_zero"),
            sum_inv.alias("sum_inv"),
        )
        .withColumn("raw_est", roundn(raw, 4))
        .withColumn("exact_distinct", F.lit(exact).cast("long"))
        .withColumn(
            "rel_err",
            roundn(
                F.abs(raw - F.lit(exact)) / F.lit(float(exact)), 6
            ),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch with set algebra (r3n wave)
# ---------------------------------------------------------------------------

#: KMV size — estimate kicks in above K distinct; below it KMV IS exact
_KMV_K = 64

#: the mixer's modulus (hash domain upper bound)
_KMV_P = 2147483647


def _kmv_oracle() -> str:
    mix = (
        "xor((69069 * xor((1103515245 * user_id + 12345) % 2147483647, "
        "((1103515245 * user_id + 12345) % 2147483647) // 65536) "
        "+ 362437) % 2147483647, "
        "((69069 * xor((1103515245 * user_id + 12345) % 2147483647, "
        "((1103515245 * user_id + 12345) % 2147483647) // 65536) "
        "+ 362437) % 2147483647) // 1024) % 2147483647"
    )

    def set_cte(name, pred):
        return f"""
    {name}_u AS (
        SELECT DISTINCT user_id FROM events WHERE {pred}),
    {name}_h AS (SELECT {mix} AS h FROM {name}_u),
    {name}_m AS (
        SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS nmin
        FROM (SELECT h FROM {name}_h ORDER BY h LIMIT {_KMV_K})),
    {name}_s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {name}_u) AS n_exact,
               CASE WHEN nmin < {_KMV_K}
                    THEN nmin * 1.0e0
                    ELSE ({_KMV_K} - 1.0e0) * {_KMV_P}.0e0 / hk END AS est
        FROM {name}_m)"""

    return f"""
    WITH {set_cte("a", "event_type = 'click'")},
    {set_cte("b", "event_type = 'purchase'")},
    {set_cte("u", "event_type IN ('click', 'purchase')")},
    x AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_intersect_exact
        FROM (SELECT user_id FROM a_u INTERSECT SELECT user_id FROM b_u))
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           a_s.n_exact AS n_a_exact, b_s.n_exact AS n_b_exact,
           u_s.n_exact AS n_union_exact, x.n_intersect_exact,
           {sql_roundn("a_s.est", 4)} AS est_a,
           {sql_roundn("b_s.est", 4)} AS est_b,
           {sql_roundn("u_s.est", 4)} AS est_union,
           {sql_roundn("a_s.est + b_s.est - u_s.est", 4)} AS est_intersect,
           {sql_roundn(
               "ABS(u_s.est - u_s.n_exact) / u_s.n_exact", 6
           )} AS rel_err_union
    FROM a_s, b_s, u_s, x
    """


@query("sketch_kmv_setops", oracle=_kmv_oracle())
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with SET
    ALGEBRA: cardinality estimates for the click set, the purchase set,
    their union (min-k of the merged hashes — the mergeability law),
    and the intersection via inclusion–exclusion, all beside the exact
    counts and the union's relative error. The sketch family's
    set-operation rung: HLL (X174) answers "how many", KMV also
    answers "how many in common" — the theta-sketch idea in portable
    arithmetic.

    Portability: the LCG+xorshift mixer (hll_mix), bottom-k via
    ORDER BY + LIMIT (plans as per-partition heaps + driver merge —
    TakeOrderedAndProject — which IS the KMV merge), and the
    (k−1)·P/h_(k) estimator as one identical double expression. Below
    k distinct the sketch is the exact set — the CASE keeps the
    estimate exact there (no libm anywhere).

    100 TB: bottom-k is the textbook distributed order statistic (heap
    per partition, k-merge at the driver — never a global sort); the
    distinct pre-step is the only shuffle."""
    ev = load_table(spark, sf_dir, "events")

    def sketch(pred_col, name):
        users = ev.filter(pred_col).select("user_id").distinct()
        users = users.localCheckpoint(eager=False)  # mins + exact count
        h = hll_mix(users, "user_id").select("h")
        mins = h.orderBy("h").limit(_KMV_K).agg(
            F.max("h").alias("hk"), F.count("*").alias("nmin")
        )
        n_exact = users.count()
        return mins.select(
            F.lit(name).alias("set_name"),
            F.lit(n_exact).cast("long").alias("n_exact"),
            F.when(F.col("nmin") < _KMV_K, F.col("nmin") * F.lit(1.0))
            .otherwise(
                (F.lit(_KMV_K) - F.lit(1.0))
                * F.lit(float(_KMV_P))
                / F.col("hk")
            )
            .alias("est"),
        )

    a = sketch(F.col("event_type") == "click", "a")
    b = sketch(F.col("event_type") == "purchase", "b")
    u = sketch(F.col("event_type").isin("click", "purchase"), "u")
    tall = a.unionAll(b).unionAll(u)
    ua = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    ub = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    n_inter = ua.join(ub, "user_id").count()

    def pick(col, s):
        return F.max(F.when(F.col("set_name") == s, F.col(col)))

    est_i = pick("est", "a") + pick("est", "b") - pick("est", "u")
    return tall.agg(
        F.lit(_KMV_K).cast("long").alias("k"),
        pick("n_exact", "a").alias("n_a_exact"),
        pick("n_exact", "b").alias("n_b_exact"),
        pick("n_exact", "u").alias("n_union_exact"),
        F.lit(n_inter).cast("long").alias("n_intersect_exact"),
        roundn(pick("est", "a"), 4).alias("est_a"),
        roundn(pick("est", "b"), 4).alias("est_b"),
        roundn(pick("est", "u"), 4).alias("est_union"),
        roundn(est_i, 4).alias("est_intersect"),
        roundn(
            F.abs(pick("est", "u") - pick("n_exact", "u"))
            / pick("n_exact", "u"),
            6,
        ).alias("rel_err_union"),
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch — self-join size estimation (r3q wave)
# ---------------------------------------------------------------------------

#: number of independent ±1 estimators (4 groups of 4 for median-of-means)
_AMS_R = 16

#: per-estimator key offset — keeps 1103515245·(key + i·C) < 2^62
_AMS_C = 10000019


def _ams_oracle() -> str:
    return f"""
    WITH pv AS (
        SELECT l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1),
    ex AS (
        SELECT pv.v + t.i * {_AMS_C} AS key, pv.c, t.i
        FROM pv, range({_AMS_R}) t(i)),
    m1 AS (SELECT i, c, (1103515245 * key + 12345) % 2147483647 AS h1
           FROM ex),
    m2 AS (SELECT i, c, xor(h1, h1 // 65536) AS h1x FROM m1),
    m3 AS (SELECT i, c, (69069 * h1x + 362437) % 2147483647 AS h2 FROM m2),
    mh AS (SELECT i, c,
                  xor(h2, h2 // 1024) % 2147483647 AS h FROM m3),
    si AS (
        SELECT i,
               CAST(SUM(CASE WHEN h % 2 = 1 THEN c ELSE -c END)
                    AS BIGINT) AS s
        FROM mh GROUP BY i),
    xi AS (SELECT i, s * s AS x, i // 4 AS g FROM si),
    gm AS (SELECT g, SUM(x) / 4.0e0 AS gmean FROM xi GROUP BY g),
    med AS (
        SELECT AVG(gmean) AS momed FROM (
            SELECT gmean,
                   ROW_NUMBER() OVER (ORDER BY gmean, g) AS rn
            FROM gm) WHERE rn IN (2, 3)),
    ag AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM xi),
    f2 AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c * c) AS BIGINT) AS f2_exact
        FROM pv)
    SELECT f2.n_rows, f2.n_keys, f2.f2_exact,
           {sql_roundn(f"ag.sx / {_AMS_R}.0e0", 2)} AS est_mean,
           {sql_roundn("med.momed", 2)} AS est_momed,
           {sql_roundn(
               f"ABS(ag.sx / {_AMS_R}.0e0 - f2.f2_exact)"
               " / (1.0e0 * f2.f2_exact)", 6
           )} AS rel_err_mean
    FROM f2, ag, med
    """


@query("sketch_ams_f2", oracle=_ams_oracle())
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) F₂ sketch over the lineitem partkey
    stream: {r} independent ±1-sign estimators Xᵢ = (Σ_v sᵢ(v)·c_v)²,
    E[Xᵢ] = F₂ = Σc² — the SELF-JOIN SIZE of lineitem on partkey, the
    quantity a cost-based optimizer needs to size a join before running
    it. Reported as the plain mean AND the 4×4 median-of-means (the
    variance-robust form), beside the exact F₂ and the mean's relative
    error. The frequency-MOMENT rung of the sketch tier: HLL/KMV
    estimate F₀, Count-Min point counts, AMS estimates F₂.

    Portability/exactness: signs come from the low bit of the shared
    LCG+xorshift mixer applied to key + i·{c} (31-bit lanes, products
    < 2^62); every per-estimator sum, square, and the exact F₂ are
    int64; the only doubles are the final /16, /4, and the even-median
    average of two dyadic means — all exact or identical-tree.

    100 TB: the sign-sums are ADDITIVE across partitions (map-side
    combine does the work — this is why AMS is the streaming/mergeable
    F₂ estimator); the ×{r} estimator fan-out happens on the per-VALUE
    table (domain-bounded), never on raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("v")).agg(
        F.count("*").alias("c")
    )
    pv = pv.localCheckpoint(eager=False)  # estimators + exact-F2 consumers
    ex = pv.select(
        "v", "c", F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))).alias("i")
    ).withColumn("key", F.col("v") + F.col("i") * F.lit(_AMS_C))
    mh = hll_mix(ex, "key")
    si = mh.groupBy("i").agg(
        F.sum(
            F.when(F.pmod(F.col("h"), F.lit(2)) == 1, F.col("c")).otherwise(
                -F.col("c")
            )
        ).alias("s")
    )
    xi = si.select(
        "i", (F.col("s") * F.col("s")).alias("x"), (F.col("i") / 4).cast("long").alias("g")
    )
    xi = xi.localCheckpoint(eager=False)  # mean + median-of-means consumers
    gm = xi.groupBy("g").agg((F.sum("x") / F.lit(4.0)).alias("gmean"))
    from pyspark.sql import Window

    rn = F.row_number().over(Window.orderBy("gmean", "g"))
    med = (
        gm.withColumn("rn", rn)
        .filter(F.col("rn").isin(2, 3))
        .agg(F.avg("gmean").alias("momed"))
    )
    ag = xi.agg(F.sum("x").alias("sx"))
    f2 = pv.agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).alias("f2_exact"),
    )
    est_mean = F.col("sx") / F.lit(float(_AMS_R))
    return (
        f2.crossJoin(F.broadcast(ag))
        .crossJoin(F.broadcast(med))
        .select(
            "n_rows",
            "n_keys",
            "f2_exact",
            roundn(est_mean, 2).alias("est_mean"),
            roundn(F.col("momed"), 2).alias("est_momed"),
            roundn(
                F.abs(est_mean - F.col("f2_exact"))
                / (F.lit(1.0) * F.col("f2_exact")),
                6,
            ).alias("rel_err_mean"),
        )
    )


sketch_ams_f2.__doc__ = sketch_ams_f2.__doc__.format(r=_AMS_R, c=_AMS_C)


# ---------------------------------------------------------------------------
# mergeable systematic quantile samples (r3y wave)
# ---------------------------------------------------------------------------

_QS_SHARDS = 8
_QS_PER_SHARD = 32
_QS_PS = ((1, 2), (9, 10), (99, 100))


def _qs_oracle() -> str:
    arms = []
    for num, den in _QS_PS:
        arms.append(f"""
    SELECT CAST({num}.0e0 / {den} AS DOUBLE) AS p, t.n,
           (SELECT MIN(v) FROM mc
            WHERE cw >= ({num} * t.n + {den} - 1) // {den}) AS est_cents,
           (SELECT v FROM ranked
            WHERE rn = ({num} * t.n + {den} - 1) // {den}) AS exact_cents
    FROM t""")
    return f"""
    WITH c AS (
        SELECT o_orderkey % {_QS_SHARDS} AS shard,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS v
        FROM orders),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    sr AS (
        SELECT shard, v,
               ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v) AS r,
               COUNT(*) OVER (PARTITION BY shard) AS ns
        FROM c),
    st AS (SELECT shard, ns, (ns + {_QS_PER_SHARD} - 1) // {_QS_PER_SHARD}
                   AS step
           FROM (SELECT DISTINCT shard, ns FROM sr)),
    samp AS (
        SELECT sr.shard, sr.v, sr.r,
               LEAST(st.step, sr.ns - sr.r + 1) AS w
        FROM sr JOIN st ON st.shard = sr.shard
        WHERE (sr.r - 1) % st.step = 0 OR sr.r = sr.ns),
    mc AS (
        SELECT v,
               SUM(w) OVER (ORDER BY v, shard, r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM samp),
    ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM c)
    {" UNION ALL ".join(arms)}
    ORDER BY p
    """


@query("sketch_quantile_samples", oracle=_qs_oracle())
def sketch_quantile_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE SKETCH — systematic per-shard samples: each of
    {s} hash shards keeps every step-th order statistic (step =
    ⌈n_s/{k}⌉, the shard max always included) with the weight of the
    run it represents; the merged ≤{s}·({k}+1)-row sample answers any
    quantile by weighted cumulative rank. The MERGE rung of the
    quantile tier: quantile_exact_twopass re-reads data per query,
    agg_percentile_approx is a black box — this one's state is
    mergeable, inspectable, and its rank error is BOUNDED by
    Σ(step_i − 1) < n/{k} + {s} (each shard's sample rank is exact
    within the shard; merging loses at most one step per shard). The
    estimate is reported beside the exact order statistic so the bound
    is driver-visible; the test asserts it.

    Exactness: integer cents, integer ceil-ranks ((p·n+den−1)//den),
    integer weights; the cumulative-weight window orders by
    (v, shard, r) — a total order, engine-identical.

    100 TB: the per-shard rank windows are hash-partitioned (the
    distributed phase); the merged sample is constant-sized and its
    window trivially small. The exact comparator column ranks every
    order through the two-phase global_rank (range exchange + partition
    offsets, never one reducer) — drop it in production and only the
    sample machinery remains."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        (F.col("o_orderkey") % _QS_SHARDS).alias("shard"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )
    c = c.localCheckpoint(eager=False)  # samples + exact + totals
    ws = Window.partitionBy("shard").orderBy("v")
    sr = c.select(
        "shard",
        "v",
        F.row_number().over(ws).alias("r"),
        F.count("*").over(Window.partitionBy("shard")).alias("ns"),
    )
    step = ((F.col("ns") + (_QS_PER_SHARD - 1)) / _QS_PER_SHARD).cast("long")
    samp = (
        sr.withColumn("step", step)
        .filter(
            ((F.col("r") - 1) % F.col("step") == 0)
            | (F.col("r") == F.col("ns"))
        )
        .select(
            "shard",
            "v",
            "r",
            F.least(
                F.col("step"), F.col("ns") - F.col("r") + 1
            ).alias("w"),
        )
    )
    wm = Window.orderBy("v", "shard", "r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mc = samp.select("v", F.sum("w").over(wm).alias("cw"))
    mc = mc.localCheckpoint(eager=False)  # three quantile arms
    ranked = global_rank(c.select("v"), [F.col("v")], rank_col="rn")
    ranked = ranked.localCheckpoint(eager=False)
    n = c.count()
    arms = []
    for num, den in _QS_PS:
        k = (num * n + den - 1) // den
        est = mc.filter(F.col("cw") >= k).agg(
            F.min("v").alias("est_cents")
        )
        exact = ranked.filter(F.col("rn") == k).select(
            F.col("v").alias("exact_cents")
        )
        arms.append(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(num / den).alias("p"),
                F.lit(n).cast("long").alias("n"),
                "est_cents",
                "exact_cents",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("p")


sketch_quantile_samples.__doc__ = sketch_quantile_samples.__doc__.format(
    s=_QS_SHARDS, k=_QS_PER_SHARD
)


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters with exact recount (r4o wave)
# ---------------------------------------------------------------------------

#: counters per partition (>> fixture vocab of 31, so the candidate
#: union is provably complete here; see guarantee note in the docstring)
_MG_K = 64
_MG_TOP = 10


@query(
    "heavy_hitters_mg",
    oracle=f"""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
    cnt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM tok GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n_stream FROM cnt)
    SELECT cnt.token, cnt.n_exact, tot.n_stream,
           FLOOR(CAST(cnt.n_exact AS DOUBLE) / CAST(tot.n_stream AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS share
    FROM cnt CROSS JOIN tot
    ORDER BY cnt.n_exact DESC, cnt.token
    LIMIT {_MG_TOP}
    """,
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — TWO-PASS exact heavy hitters with Misra-Gries
    candidate generation (operators/scale.misra_gries_candidates):
    pass 1 streams each partition through a k={k}-counter MG summary
    (bounded memory regardless of column cardinality — the reason this
    beats a raw groupBy on a billions-of-distincts column), the
    per-partition candidate sets union, and pass 2 EXACTLY recounts
    only the candidates via a semi-join before taking the top {t}.
    The oracle is the plain exact top-{t} — so the driver check IS the
    proof that candidate generation lost nothing (the
    dedup_accuracy_eval discipline: the approximate path's fidelity is
    itself a verified query).

    Guarantee: any token with global count > N/k survives MG in at
    least one partition (pigeonhole).  Completeness of the reported
    top-{t} is GUARDED STRUCTURALLY, not assumed from the fixture: the
    plan raises at execution time unless either (a) no partition ever
    ran a decrement step (then the candidate union IS the exact
    distinct set — the fixture path, vocab 31 < k), or (b) the weakest
    reported count strictly clears the N/k survival bound (then any
    non-candidate token is provably below every reported one).  On a
    flat distribution where neither holds the query fails loudly
    instead of silently dropping a true heavy hitter — rerun with a
    larger k.

    Exactness: the MG pass only proposes CANDIDATES; every reported
    number is an exact int64 recount; share divides once, 6 dp; ties
    break on token.

    100 TB: pass 1 is narrow (no shuffle — per-partition state <= k
    counters in an Arrow-batched iterator); the recount semi-join
    shuffles only candidate-key rows (<= k x partitions keys); top-{t}
    is a TakeOrderedAndProject heap."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import (
        misra_gries_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tok = tok.localCheckpoint(eager=False)  # MG pass + recount pass
    cand_raw = misra_gries_candidates(tok, "token", _MG_K)
    cand_raw = cand_raw.localCheckpoint(eager=False)  # candidates + flag
    cand = cand_raw.select("token").distinct()
    recount = (
        tok.join(cand, "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    tot = tok.agg(F.count("*").cast("long").alias("n_stream"))
    top = (
        recount.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n_exact",
            "n_stream",
            roundn(
                F.col("n_exact").cast("double")
                / F.col("n_stream").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("n_exact"), "token")
        .limit(_MG_TOP)
    )
    top = top.localCheckpoint(eager=False)  # readout + guard arms
    # structural completeness certificate (one-row relations, broadcast):
    # complete <=> no partition evicted (candidates = exact distinct set)
    #           OR min reported count > N/k (MG survival bound)
    cert = (
        top.agg(F.min("n_exact").alias("min_top"))
        .crossJoin(cand_raw.agg(
            F.max(F.col("evicted").cast("int")).alias("any_evicted")))
    )  # n_stream rides on top's own rows
    return (
        top.crossJoin(F.broadcast(cert))
        .filter(
            F.when(
                (F.col("any_evicted") == 1)
                & (F.col("min_top") * F.lit(_MG_K) <= F.col("n_stream")),
                F.raise_error(F.lit(
                    "heavy_hitters_mg: top-%d not provably complete at "
                    "k=%d (decrements fired and the weakest reported "
                    "count is at or below N/k) — widen k"
                    % (_MG_TOP, _MG_K))),
            ).otherwise(F.lit(True))
        )
        .select("token", "n_exact", "n_stream", "share")
        .orderBy(F.desc("n_exact"), "token")
    )


heavy_hitters_mg.__doc__ = heavy_hitters_mg.__doc__.format(k=_MG_K, t=_MG_TOP)
