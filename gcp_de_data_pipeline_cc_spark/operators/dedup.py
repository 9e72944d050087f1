"""Deduplication suite for LLM training-data pipelines (ops C3/C4 + the
extension mandate): exact content-hash dedup, n-gram Jaccard similarity
join, MinHash+LSH near-dup, and SimHash bucketing.

Design for 100 TB:

- **exact** — one hash-groupBy; the shuffle carries (hash, doc_id) pairs
  only, never document text.
- **n-gram Jaccard** — the *shingle join* formulation: explode distinct
  shingles, self-join on the shingle value, count per pair. Cost is
  Σ|bucket|² over shingle buckets — linear-ish on real corpora — versus
  the O(n²) all-pairs cross join, which is never materialized.
- **MinHash+LSH** — pure-DataFrame implementation (no MLlib vector
  types): per-doc signatures via ``num_perms`` universal hash functions
  folded with min-aggregates, banded so that only same-band-bucket pairs
  become candidates; candidates are then *verified* with exact Jaccard.
  Only candidate pairs ever pay the verification join.
- **SimHash** — 16-bit weighted-bit signature per document; equal
  signatures bucket together. Narrow per-doc compute + one groupBy.

All hash arithmetic stays under 2^31 (pmod by a Mersenne prime) so
ANSI-mode long multiplication cannot overflow.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint
from gcp_de_data_pipeline_cc_spark.operators.text import (
    MERSENNE_31,
    SHINGLES_SQL,
    portable_token_hash,
    shingles_col,
    tokens_col,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """C3 — exact dedup by content hash: keep the smallest id per distinct
    content; report the copy count."""
    return (
        docs.select(id_col, F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Distinct (doc, shingle) pairs; docs shorter than k tokens drop."""
    toks = tokens_col(F.col(text_col))
    return (
        docs.withColumn("toks", toks)
        .filter(F.size("toks") >= k)
        .select(id_col, F.explode(shingles_col(F.col("toks"), k)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    join_on_hash: bool = False,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via the shingle-join plan.

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b with
    jaccard >= threshold. Jaccard is exact integer arithmetic
    (|∩| / (|A|+|B|-|∩|)) so results are engine-portable bit-for-bit.

    ``join_on_hash=True`` is the 100 TB shuffle profile: shingle strings
    collapse to ``xxhash64`` longs BEFORE the self-join, so the shuffle
    carries 8-byte keys instead of ~k-word strings (roughly 3-4× less
    shuffle volume at k=3). Results are identical up to 64-bit hash
    collisions (~n²/2⁶⁵ expected spurious co-occurrences — negligible at
    any corpus size that fits a cluster, and a collision only perturbs
    one intersection count by 1). Default False so the registry oracle
    compares the collision-free formulation; equivalence of the two
    modes is asserted in tests/test_llm.py.
    """
    # lazily localCheckpoint'd, NOT cached: a session-lifetime cache
    # with no unpersist would pin storage memory across queries, while
    # the checkpoint lives only as long as the plan object (cleaned by
    # the ContextCleaner). Without it the shingle explode runs once per
    # consumer — both self-join sides plus the size rollup (plan-census
    # finding: 4 scans; Spark reuses exchanges, not shared subtrees).
    # ``shingles`` lets a caller running several shingle consumers (e.g.
    # dedup_accuracy_eval's exact-join + LSH operands) inject ONE
    # materialized distinct-(id, shingle) relation instead of paying the
    # tokenize+explode per operator.
    sh = shingles if shingles is not None else _doc_shingles(docs, id_col, text_col, k)
    if join_on_hash:
        sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(
        F.count("*").alias("n_sh")
    ).localCheckpoint(eager=False)

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_overlap_sql(src: str = "documents", inter: str = "inter") -> str:
    """The oracle twin of :func:`ngram_jaccard_pairs`' relations for
    3-gram shingles of ``src``: the CTE ``sh`` (doc_id, shingle), then
    :func:`overlap_sql`'s ``cnt`` and ``inter``."""
    return f"""sh AS (
        SELECT DISTINCT doc_id, UNNEST({SHINGLES_SQL}) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {src})
        WHERE len(t) >= 3),
    {overlap_sql(inter)}"""


def overlap_sql(inter: str = "inter") -> str:
    """The CTEs ``cnt`` (doc_id, n_sh) and ``inter`` (doc_a, doc_b,
    n_both), doc_a < doc_b, over a ``sh`` (doc_id, shingle) CTE."""
    return f"""cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    {inter} AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_both
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""


#: the near-duplicate pairs (doc_a, doc_b) at ngram_jaccard_pairs'
#: default threshold, over :func:`overlap_sql`'s CTEs
JACCARD_PAIRS_SQL = """
        SELECT doc_a, doc_b
        FROM inter
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
        WHERE n_both / (ca.n_sh + cb.n_sh - n_both) >= 0.5"""


def _hash_params(num_perms: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a·h + b mod p)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_perms)
    ]


def minhash_signatures(
    docs: DataFrame,
    num_perms: int = 32,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature columns sig_0..sig_{n-1}.

    One explode + one groupBy with ``num_perms`` min-aggregates; the
    shuffle carries (doc, shingle_hash) longs, not text.
    """
    sh = shingles if shingles is not None else _doc_shingles(docs, id_col, text_col, k)
    # portable per-char polynomial (operators/text.portable_token_hash):
    # exact integer arithmetic any engine folds identically, which is
    # what makes the whole MinHash pipeline oracle-paired; swap in
    # pmod(xxhash64(shingle), P) for the production fast path (one JVM
    # intrinsic per shingle instead of a per-char fold)
    h = portable_token_hash(F.col("shingle"))
    hashed = sh.select(id_col, h.alias("h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_31))).alias(f"sig_{i}")
        for i, (a, b) in enumerate(_hash_params(num_perms))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_candidates(
    docs: DataFrame,
    num_perms: int = 32,
    bands: int = 8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """UNVERIFIED LSH candidate pairs (doc_a < doc_b) from banded
    MinHash signatures — the raw S-curve sample, before exact-Jaccard
    verification. Exposed separately so calibration queries can measure
    the curve itself; :func:`minhash_lsh_pairs` is this + verify."""
    rows_per_band = num_perms // bands
    sigs = minhash_signatures(docs, num_perms, k, id_col, text_col, shingles=shingles)

    band_structs = F.array(*[
        F.struct(
            F.lit(band).alias("band_id"),
            # exact signature tuple as the bucket key (engine-portable);
            # hash to 8 bytes (xxhash64) at frontier scale to shrink the
            # bucket-join shuffle — the dedup_ngram_hashjoin trade
            F.concat_ws("_", *[
                F.col(f"sig_{band * rows_per_band + r}")
                for r in range(rows_per_band)
            ]).alias("bucket"),
        )
        for band in range(bands)
    ])
    banded = sigs.select(id_col, F.explode(band_structs).alias("bb")).select(
        id_col, F.col("bb.band_id").alias("band_id"), F.col("bb.bucket").alias("bucket")
    )
    # n·bands rows, consumed by BOTH sides of the bucket self-join —
    # materialize once (lazy) or the signature build runs twice (plan
    # census finding; Spark reuses exchanges, not shared subtrees)
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_perms: int = 32,
    bands: int = 8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
    jaccard_pairs: DataFrame | None = None,
    jaccard_pairs_threshold: float = 0.0,
) -> DataFrame:
    """C4 — MinHash+LSH near-dup join: band the signatures, bucket-join
    candidates, then *verify* candidates with exact Jaccard.

    With r = num_perms/bands rows per band, a pair with true Jaccard s is
    a candidate with probability 1-(1-s^r)^bands — the standard S-curve;
    the exact-verify pass removes false positives, so the only
    approximation is missed pairs below the curve's knee.

    ``jaccard_pairs`` — an optional precomputed (doc_a, doc_b, jaccard)
    relation over doc_a < doc_b (e.g. ngram_jaccard_pairs at threshold
    0). When a caller already has it, verification becomes a pair-key
    join against it instead of a second candidate-restricted shingle
    join — sound because every candidate with J ≥ threshold > 0 shares
    a shingle and is therefore in the universe. Equivalence is pinned
    by tests.  ``jaccard_pairs_threshold`` declares the threshold the
    injected relation was computed at; it must not exceed ``threshold``
    or candidates in [threshold, pairs_threshold) would be silently
    dropped — validated here, not just documented.
    """
    if jaccard_pairs is not None and jaccard_pairs_threshold > threshold:
        raise ValueError(
            f"injected jaccard_pairs computed at threshold "
            f"{jaccard_pairs_threshold} cannot serve a request at "
            f"{threshold}: pairs in [{threshold}, "
            f"{jaccard_pairs_threshold}) are missing from the universe"
        )
    candidates = minhash_band_candidates(
        docs, num_perms, bands, k, id_col, text_col, shingles=shingles
    )
    if jaccard_pairs is not None:
        return candidates.join(jaccard_pairs, ["doc_a", "doc_b"]).filter(
            F.col("jaccard") >= threshold
        ).select("doc_a", "doc_b", "jaccard")

    # verification: exact jaccard on the candidate pairs only.
    # The shingle relation feeds both join sides AND both size lookups —
    # four consumers; checkpoint it (and the tiny per-doc size rollup)
    # so tokenize+explode runs once.  localCheckpoint is idempotent-safe
    # on an INJECTED relation too — without it a caller passing a
    # non-materialized frame silently re-runs tokenize+explode 4×.
    sh = (
        shingles.localCheckpoint(eager=False)
        if shingles is not None
        else _doc_shingles(docs, id_col, text_col, k).localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(
        F.count("*").alias("n_sh")
    ).localCheckpoint(eager=False)
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_both"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    docs: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash: per-document ``bits``-wide signature where bit b is the
    sign of Σ_tokens ±1 weighted by token-hash bit b. Documents with
    equal (or near) signatures are near-duplicates."""
    tok = (
        docs.select(id_col, F.explode(tokens_col(F.col(text_col))).alias("token"))
        # portable per-char polynomial hash (31 usable bits) — makes the
        # signature engine-reproducible and the registered query
        # oracle-paired; xxhash64 is the production fast path
        .withColumn("h", portable_token_hash(F.col("token")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{b}")
        for b in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(bits):
        contrib = F.when(F.col(f"bit_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = contrib if sig is None else (sig + contrib)
    return per_doc.select(id_col, sig.cast("long").alias("simhash"))


def simhash_buckets(
    docs: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate groups: documents sharing an identical SimHash."""
    sigs = simhash_signatures(docs, bits, id_col, text_col)
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    pointer_jump: bool = False,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation — the clustering step that turns near-dup
    PAIRS into dedup GROUPS (keep one representative per component).

    Each round every node adopts ``min(own label, neighbors' labels)``:
    one hash shuffle keyed on node id per round, Pregel-style, run
    through :func:`catalog.fixpoint` so the plan stays constant-size.
    Rounds needed = component diameter; near-dup clusters are shallow (a
    hub document links its variants), so a handful of rounds converges
    even at corpus scale — measured 2 rounds on the documents corpus.
    For deep graphs set ``pointer_jump=True``: each round additionally
    adopts the label currently held by the label node (path doubling),
    collapsing chains in O(log diameter) rounds at the price of a second
    shuffle per round — a win only when diameter >> 4, so it is opt-in.

    Convergence: labels only decrease, so the first round in which no
    label drops is the fixpoint; the per-round test is one emptiness
    probe — the only driver-side value in the loop.  A graph that needs
    more than ``max_iterations`` rounds raises
    :class:`catalog.NonConvergence`.

    Returns (node, cluster_id) with cluster_id = min node id reachable.
    """
    # checkpoint the edge list once BEFORE symmetrizing: the union scans
    # its input twice, and upstream edge generation (e.g. an n-gram
    # similarity self-join) is far too expensive to run twice
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e0 = e0.localCheckpoint(eager=False)
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(lbl: DataFrame, _r: int) -> DataFrame:
        neigh = (
            sym.join(lbl, sym.a == lbl.node)
            .groupBy(F.col("b").alias("nb_node"))
            .agg(F.min("label").alias("nb_min"))
        )
        stepped = (
            lbl.join(neigh, lbl.node == F.col("nb_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("was"),
            )
        )
        if pointer_jump:
            # adopt the label currently held by our label node
            jump = stepped.select(
                F.col("node").alias("j_node"), F.col("label").alias("j_label")
            )
            stepped = stepped.join(
                jump, stepped.label == F.col("j_node"), "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("j_label"), F.col("label"))
                ).alias("label"),
                "was",
            )
        return stepped.select(
            "node", "label", (F.col("label") < F.col("was")).alias("dropped")
        )

    # r10 MEASURED NEGATIVE: probing every other round (two propagation
    # steps per checkpoint + probe) lost — consumer graphs converge in
    # ~2 rounds, so it ran 2× the steps to save one tiny probe job
    # (geo_cluster_grid 4.09 → 6.12 s in the paired sf0.1 A/B)
    labels = fixpoint(
        labels,
        step,
        max_rounds=max_iterations,
        name="connected_components",
        done=lambda lbl, _r: lbl.filter("dropped").isEmpty(),
    )
    return labels.select("node", F.col("label").alias("cluster_id"))
