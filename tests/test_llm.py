"""LLM-data operator tests: MinHash-LSH recall vs exact Jaccard, LSH
similarity recall on clustered vectors, multimodal plumbing, and the
decode stub contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.operators import dedup as dd
from gcp_de_data_pipeline_cc_spark.operators import multimodal as mm
from gcp_de_data_pipeline_cc_spark.operators import similarity as sim
from gcp_de_data_pipeline_cc_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh_portable,
)
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def _pair_set(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_pairs_are_verified_subset_with_recall(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = _pair_set(dd.ngram_jaccard_pairs(docs, threshold=0.5))
    approx = _pair_set(dd.minhash_lsh_pairs(docs, threshold=0.5))
    # verification pass guarantees no false positives
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.7, f"minhash recall {recall:.2f} on {len(exact)} pairs"


def test_minhash_finds_planted_duplicates(spark):
    base = load_table(spark, SF_DIR, "documents").limit(50)
    # plant a shifted near-duplicate of every doc (drop first token)
    twins = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split("text", " "), 2, 100000)
        ).alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(twins)
    pairs = _pair_set(dd.minhash_lsh_pairs(docs, threshold=0.5))
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.select("doc_id").collect()}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.9, f"planted-dup recall {recall:.2f}"


def test_minhash_injected_shingles_equivalence(spark):
    """Law pin (r3 ADVICE backlog): passing a precomputed — even
    non-materialized — shingle relation yields bit-identical pairs to
    the internal tokenize path; the operator checkpoints the injected
    frame itself so its four consumers don't re-run tokenize+explode."""
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    internal = _pair_set(dd.minhash_lsh_pairs(docs, threshold=0.5))
    sh = dd._doc_shingles(docs, "doc_id", "text", 3)  # lazy, un-checkpointed
    injected = _pair_set(dd.minhash_lsh_pairs(docs, threshold=0.5, shingles=sh))
    assert injected == internal


def test_simhash_identical_docs_share_signature(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w q r t")],
        "doc_id long, text string",
    )
    buckets = dd.simhash_buckets(docs).collect()
    assert any(set(r.members) == {1, 2} for r in buckets)


def test_exact_dedup_collapses_copies(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r.keep_doc_id: r.n_copies for r in dd.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_lsh_topk_recall_on_clustered_vectors(spark):
    rng = np.random.RandomState(7)
    dim, n = 16, 40
    base = rng.standard_normal((n, dim))
    twins = base + 0.02 * rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)] + [
        (1000 + i, twins[i].tolist()) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") >= 1000)

    exact1 = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(queries, df, k=1).collect()
    }
    # exact top-1 of each twin must be its base vector
    assert all(exact1[1000 + i] == i for i in range(n))

    approx = cosine_topk_lsh_portable(
        queries, df, k=1, n_tables=8, bits=4, dim=dim
    )
    approx1 = {r.query_id: r.neighbor_id for r in approx.collect()}
    hits = sum(approx1.get(1000 + i) == i for i in range(n))
    assert hits / n >= 0.8, f"LSH top-1 recall {hits / n:.2f}"


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def test_multimodal_features_deterministic(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    media = mm.attach_binary_payload(docs)
    f1 = sorted(map(tuple, mm.extract_features(media).collect()))
    f2 = sorted(map(tuple, mm.extract_features(media).collect()))
    assert f1 == f2 and len(f1) == 20
    # n_bytes must agree with the metadata struct
    meta = {r.doc_id: r.media_meta.n_bytes for r in media.collect()}
    for row in f1:
        assert row[1] == meta[row[0]]
    # features are a normalized histogram
    for row in f1:
        assert abs(sum(row[4]) - 1.0) < 1e-3


def test_frame_sample_counts(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(10)
    media = mm.attach_binary_payload(docs)
    sizes = {r.doc_id: r.media_meta.n_bytes for r in media.collect()}
    counts = (
        mm.frame_sample(media, every_n_bytes=64)
        .groupBy("doc_id")
        .count()
        .collect()
    )
    for r in counts:
        expected = -(-sizes[r.doc_id] // 64)  # ceil division
        assert r["count"] == expected


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError, match="image/png"):
        mm.decode_stub(b"\x89PNG", "image/png")


def test_connected_components_known_graph(spark):
    from gcp_de_data_pipeline_cc_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21)],
        ["src", "dst"],
    )
    got = {
        r.node: r.cluster_id
        for r in dd.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_chain_needs_iterations(spark):
    # a path graph 0-1-2-...-9 has diameter 9: exercises the loop past
    # one round and the convergence cutoff
    from gcp_de_data_pipeline_cc_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["src", "dst"]
    )
    rows = dd.connected_components(edges).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 10
    # pointer jumping (path doubling) collapses the same chain in
    # O(log d) rounds — same final labels
    jumped = dd.connected_components(edges, pointer_jump=True).collect()
    assert {r.cluster_id for r in jumped} == {0}
    assert len(jumped) == 10


def test_ngram_jaccard_hash_join_mode_equivalent(spark):
    """join_on_hash=True (8-byte shuffle keys, the 100 TB profile) must
    produce the identical pair set and jaccard values as the string-join
    formulation on the test corpus."""
    from gcp_de_data_pipeline_cc_spark.catalog import load_table
    from gcp_de_data_pipeline_cc_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    by_str = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs).collect()
    }
    by_hash = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, join_on_hash=True).collect()
    }
    assert by_str == by_hash and by_str


# ---------------------------------------------------------------------------
# real BMP/WAV codecs + decode round-trip
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_pure_python():
    seed = b"hello multimodal world"
    payload = mm.synthesize_bmp(seed)
    d = mm.decode_bmp(payload)
    w, h = 4 + (len(seed) % 5), 4 + (seed[0] % 5)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, 3)
    # independent recomputation: pixels cycle the seed over w*3*h bytes
    flat = [seed[i % len(seed)] for i in range(w * 3 * h)]
    for ch, key in enumerate(("mean_b", "mean_g", "mean_r")):
        expect = sum(flat[ch::3]) / (w * h)
        assert abs(d[key] - expect) < 1e-6, key
    # container is structurally valid: declared size matches payload
    import struct as st
    assert st.unpack_from("<I", payload, 2)[0] == len(payload)


def test_wav_roundtrip_pure_python():
    seed = bytes(range(0, 200, 3))
    payload = mm.synthesize_wav(seed, sample_rate=16000)
    d = mm.decode_wav(payload)
    assert d["sample_rate"] == 16000
    assert d["n_channels"] == 1
    assert d["n_samples"] == len(seed)
    samples = [(b - 128) * 256 for b in seed]
    assert d["peak"] == max(abs(s) for s in samples)
    assert abs(d["mean_amp"] - sum(abs(s) for s in samples) / len(seed)) < 1e-6


def test_decode_stub_routes_and_raises():
    assert mm.decode_stub(mm.synthesize_bmp(b"x"), "image/bmp")["n_channels"] == 3
    assert mm.decode_stub(mm.synthesize_wav(b"x"), "audio/wav")["n_samples"] == 1
    with pytest.raises(NotImplementedError):
        mm.decode_stub(b"\xff\xd8\xff", "image/jpeg")


def test_extract_decoded_features_mixed_modalities(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    media = mm.attach_media_payload(docs)
    rows = {r.doc_id: r for r in mm.extract_decoded_features(media).collect()}
    assert len(rows) == 20
    for doc_id, r in rows.items():
        if doc_id % 2 == 0:
            assert r.media_type == "image/bmp"
            assert r.width >= 4 and r.height >= 4 and r.n_channels == 3
            assert r.n_samples is None and r.sample_rate is None
            assert 0.0 <= r.feat_mean <= 255.0
        else:
            assert r.media_type == "audio/wav"
            assert r.sample_rate == 8000 and r.n_samples == r.n_bytes // 2 - 22
            assert r.width is None and r.height is None


# ---------------------------------------------------------------------------
# topk_recall operator
# ---------------------------------------------------------------------------

def test_topk_recall_on_clustered_vectors(spark):
    # tight clusters: each vector's whole top-5 is its cluster-mates, so
    # recall@5 measures the ANN path, not noise-rank ordering
    rng = np.random.RandomState(11)
    dim, n_clusters, per = 16, 10, 6
    rows = []
    for c in range(n_clusters):
        center = rng.standard_normal(dim) * 3
        for m in range(per):
            v = center + 0.01 * rng.standard_normal(dim)
            rows.append((c * 100 + m, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(queries, df, k=5)
    approx = cosine_topk_lsh_portable(
        queries, df, k=5, n_tables=8, bits=4, dim=dim
    )
    rec = sim.topk_recall(approx, exact, k=5).collect()
    assert len(rec) == n_clusters
    assert all(r.n_exact == 5 for r in rec)
    mean_recall = sum(r.recall for r in rec) / n_clusters
    assert mean_recall >= 0.9, f"mean recall@5 {mean_recall:.2f}"


def test_topk_recall_perfect_on_self(spark):
    rng = np.random.RandomState(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = cosine_topk(df.limit(5), df, k=3)
    rec = sim.topk_recall(exact, exact, k=3).collect()
    assert all(r.recall == 1.0 and r.n_hit == 3 for r in rec)


# ---------------------------------------------------------------------------
# corpus curation near-dup mode parameter
# ---------------------------------------------------------------------------

def test_curate_corpus_modes_agree(spark):
    """The 100 TB swap (exact shingle join → MinHash+LSH) must not change
    the curated set on the fixture corpus: LSH candidates are verified
    with exact Jaccard, so any divergence would be a recall miss."""
    from gcp_de_data_pipeline_cc_spark.plans.corpus import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    exact = set(map(tuple, curate_corpus(docs, near_dup="exact").collect()))
    mh = set(map(tuple, curate_corpus(docs, near_dup="minhash").collect()))
    assert exact, "curated set must be non-empty"
    assert mh == exact


def test_curate_corpus_rejects_unknown_mode(spark):
    from gcp_de_data_pipeline_cc_spark.plans.corpus import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="near_dup"):
        curate_corpus(docs, near_dup="bogus")
