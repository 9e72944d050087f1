"""PQ-ADC search family (sim_topk_pq, sim_topk_ivfpq, sim_topk_pq_rerank):
the shared codebook build against the oracle's Lloyd chain, its Spark-job
budget and input contract, and the planted-cluster and recall laws."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark import catalog
from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from gcp_de_data_pipeline_cc_spark.plans.llm import (
    _PQ_SEARCH_ITERS,
    _PQ_SEARCH_K,
    _pq_flat_sql,
    _pq_lloyd_sql,
    _pq_trained,
)
from tests.conftest import SF_DIR

#: Spark jobs to build _pq_trained and run one action each on cent and
#: codes at sf0.001: 4 for the build (schema read, stratum TakeOrdered,
#: the grouped Lloyd pass's shuffle + result), 2 for cent.count() and 2
#: for codes.count() (encode + checkpoint)
_PQ_JOB_BUDGET = 8


# ---------------------------------------------------------------------------
# the shared build: exactness, job budget, input contract
# ---------------------------------------------------------------------------

def test_pq_trained_matches_oracle_lloyd_chain(spark, duck):
    """The dense per-subspace Lloyd pass and the map-side encode
    reproduce the oracle's unrolled SQL chain row for row: the final
    codebook c{it} and the full-corpus codes a{it}."""
    it = _PQ_SEARCH_ITERS
    chain = f"WITH {_pq_flat_sql(_PQ_SEARCH_K)}, {_pq_lloyd_sql(it)} "
    want_cent = duck.execute(
        chain + f"SELECT m, k, d, cq FROM c{it} ORDER BY 1, 2, 3"
    ).fetchall()
    want_codes = duck.execute(
        chain + f"SELECT vec_id, m, k_code FROM a{it} ORDER BY 1, 2"
    ).fetchall()
    _, cent, codes = _pq_trained(spark, SF_DIR)
    assert sorted(tuple(r) for r in cent.collect()) == want_cent
    assert sorted(tuple(r) for r in codes.collect()) == want_codes


def test_pq_trained_job_budget(spark):
    catalog.clear()
    sc = spark.sparkContext
    group = "test_pq_trained_job_budget"
    sc.setJobGroup(group, "PQ build budget")
    try:
        _, cent, codes = _pq_trained(spark, SF_DIR)
        cent.count()
        codes.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= _PQ_JOB_BUDGET, sorted(jobs)


@pytest.mark.parametrize(
    "bad, match",
    [
        ([0.5] * 63, "ragged"),  # caught by the training pass
        (None, "null or ragged"),  # no flat rows: caught by the encode
        ([300.0] * 64, "below 268"),  # int64 distances would overflow
    ],
    ids=["ragged", "null", "out_of_range"],
)
def test_pq_rejects_malformed_embeddings(spark, tmp_path, bad, match):
    _write_clustered_embeddings(spark, tmp_path, bad=bad)
    with pytest.raises(Exception, match=match):
        _, _, codes = _pq_trained(spark, str(tmp_path))
        codes.count()


# ---------------------------------------------------------------------------
# sim_topk_pq
# ---------------------------------------------------------------------------

def _write_clustered_embeddings(
    spark, tmp_path, n_clusters=8, per=10, bad=False
):
    """Tight, well-separated clusters of exactly 10: centers drawn at
    scale 1.0, members jittered at scale 0.01.  With 80 vectors the
    fixed-Q hash-rank sample (Q=64 < 80 vectors) selects 64 vectors as queries, so
    the law is asserted for all 80 — one row per vector.

    The structural law this enables: PQ collapses a tight cluster to
    one code per subspace, so it CANNOT rank within a cluster (the
    known Voronoi-cell blindness — quantization error ~ jitter scale),
    but it MUST separate clusters; with 9 mates vs 10 exact slots the
    approx top-10 provably contains all 9 mates => recall >= 0.9.

    ``bad`` (when not False) replaces the first vector's embedding."""
    rows = []
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(n_clusters, 64))
    for c in range(n_clusters):
        for j in range(per):
            v = centers[c] + 0.01 * rng.normal(size=64)
            rows.append((c * 50 + j, c, [float(x) for x in v]))
    if bad is not False:
        rows[0] = (rows[0][0], rows[0][1], bad)
    spark.createDataFrame(
        rows, "vec_id BIGINT, label BIGINT, embedding ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")


def test_pq_adc_separates_planted_clusters(spark, tmp_path):
    _write_clustered_embeddings(spark, tmp_path)
    out = REGISTRY["sim_topk_pq"].spark(spark, str(tmp_path)).toPandas()
    assert len(out) == 64  # the fixed-Q sample size
    # all 9 cluster-mates must appear in the approx top-10: recall >= 0.9
    assert (out.recall >= 0.9).all(), out.recall.describe()


def test_pq_adc_fixture_recall_floor(spark):
    """The documented operating point on the near-structureless fixture:
    mean recall@10 >= 0.3 (measured ~0.41) — a regression guard on the
    codebook training, not a quality claim."""
    out = REGISTRY["sim_topk_pq"].spark(spark, SF_DIR).toPandas()
    assert (out.n_exact == 10).all()
    assert (out.recall <= 1.0).all() and (out.recall >= 0.0).all()
    assert out.recall.mean() >= 0.3, out.recall.describe()


def test_ivfpq_separates_planted_clusters(spark, tmp_path):
    """Composed index on planted 10-clusters with labels = cluster ids:
    the coarse probe must pick the query's own cell and PQ must keep
    the 9 mates in the top-10 — both stages align, recall >= 0.9."""
    _write_clustered_embeddings(spark, tmp_path)
    out = REGISTRY["sim_topk_ivfpq"].spark(spark, str(tmp_path)).toPandas()
    assert len(out) == 64  # the fixed-Q sample size
    assert (out.recall >= 0.9).all(), out.recall.describe()


def test_ivfpq_fixture_recall_floor(spark):
    """Regression guard at the fixture operating point (measured ~0.34:
    coarse pruning loss compounds quantization loss — the decomposition
    the ivf/pq/ivfpq key triple exists to expose)."""
    out = REGISTRY["sim_topk_ivfpq"].spark(spark, SF_DIR).toPandas()
    assert (out.n_exact == 10).all()
    assert out.recall.mean() >= 0.2, out.recall.describe()


def test_pq_codes_are_codebook_sized(spark):
    """Structural: every vector gets exactly one code per subspace and
    codes live in [0, K) — the 6-byte-per-vector claim."""
    emb = load_table(spark, SF_DIR, "embeddings")
    _, _, codes = _pq_trained(spark, SF_DIR)
    n_vec = emb.count()
    stats = codes.agg(
        F.count("*").alias("n"),
        F.countDistinct("vec_id").alias("nv"),
        F.min("k_code").alias("lo"),
        F.max("k_code").alias("hi"),
    ).first()
    assert stats.n == n_vec * 8 and stats.nv == n_vec
    assert 0 <= stats.lo and stats.hi < _PQ_SEARCH_K
