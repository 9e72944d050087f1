"""Semantic laws for the r6k wave: hybrid retrieval fusion, SemDeDup,
Mahalanobis OOD, Hampel repair, SAX symbolization, k-truss."""

from __future__ import annotations

import datetime

import numpy as np

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------

def _write_events(spark, tmp_path, daily_counts, event_type="click"):
    rows = []
    eid = 0
    d0 = datetime.datetime(2024, 1, 1)
    for di, c in enumerate(daily_counts):
        for _ in range(c):
            rows.append(
                (eid, d0 + datetime.timedelta(days=di), eid, event_type,
                 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def _write_embeddings(spark, tmp_path, rows):
    """rows: list of (vec_id, list[float], label)."""
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")


# ---------------------------------------------------------------------------
# retrieval_rrf_fusion
# ---------------------------------------------------------------------------

def test_rrf_scores_recompute_from_ranks(spark):
    out = REGISTRY["retrieval_rrf_fusion"].spark(spark, SF_DIR).toPandas()
    assert 0 < len(out) <= 20
    assert out.doc_id.is_unique
    for _, r in out.iterrows():
        exp = 0.0
        if not np.isnan(r.lex_rank):
            assert 1 <= r.lex_rank <= 50
            exp += 1.0 / (60 + r.lex_rank)
        if not np.isnan(r.sem_rank):
            assert 1 <= r.sem_rank <= 50
            exp += 1.0 / (60 + r.sem_rank)
        assert exp > 0  # a fused row came from at least one arm
        assert abs(np.floor(exp * 1e6 + 0.5) / 1e6 - r.rrf_score) < 1e-12
    # fused order is score-descending
    assert (out.rrf_score.values[:-1] >= out.rrf_score.values[1:] - 1e-12).all()


def test_rrf_both_arm_docs_beat_single_arm_peers(spark):
    """A doc present in BOTH arms at ranks (a, b) must outscore any doc
    whose only arm rank is min(a, b) — fusion rewards agreement."""
    out = REGISTRY["retrieval_rrf_fusion"].spark(spark, SF_DIR).toPandas()
    both = out[out.lex_rank.notna() & out.sem_rank.notna()]
    single = out[out.lex_rank.isna() | out.sem_rank.isna()]
    for _, b in both.iterrows():
        m = min(b.lex_rank, b.sem_rank)
        rivals = single[
            single[["lex_rank", "sem_rank"]].min(axis=1) >= m
        ]
        assert (b.rrf_score >= rivals.rrf_score - 1e-12).all()


# ---------------------------------------------------------------------------
# dedup_semdedup
# ---------------------------------------------------------------------------

def test_semdedup_census_invariants(spark):
    out = REGISTRY["dedup_semdedup"].spark(spark, SF_DIR).toPandas()
    assert (out.n_kept + out.n_pruned == out.n_vecs).all()
    assert (out.retention > 0).all() and (out.retention <= 1).all()
    assert (out.n_kept >= 1).all()  # the lowest-id rep always survives


def test_semdedup_planted_duplicate_pruned(spark, tmp_path):
    """An exact duplicate (cosine 1.0) with a higher vec_id is pruned;
    mutually orthogonal cell-mates (cosine 0 < tau) all survive."""
    dim = 8
    rows = []
    # label 0: 4 orthogonal basis vectors + an exact copy of vec 0
    for i in range(4):
        v = [0.0] * dim
        v[i] = 1.0
        rows.append((i, v, 0))
    dup = [0.0] * dim
    dup[0] = 1.0
    rows.append((100, dup, 0))
    # label 1: 3 orthogonal vectors, no dups
    for i in range(3):
        v = [0.0] * dim
        v[i + 4] = 1.0
        rows.append((200 + i, v, 1))
    _write_embeddings(spark, tmp_path, rows)
    out = (
        REGISTRY["dedup_semdedup"].spark(spark, str(tmp_path))
        .toPandas().set_index("label")
    )
    assert out.loc[0, "n_vecs"] == 5 and out.loc[0, "n_pruned"] == 1
    assert out.loc[0, "n_kept"] == 4
    assert out.loc[1, "n_pruned"] == 0 and out.loc[1, "retention"] == 1.0


# ---------------------------------------------------------------------------
# embedding_ood_mahalanobis
# ---------------------------------------------------------------------------

def test_mahalanobis_matches_numpy(spark):
    import duckdb

    emb = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in emb])
    q = np.floor(
        np.array([r[1] for r in emb], dtype=np.float64) * 8192.0 + 0.5
    ).astype(np.int64)
    n = len(ids)
    s = q.sum(axis=0)
    ss = (q * q).sum(axis=0)
    den = np.maximum(n * ss - s * s, 1).astype(np.float64)
    num = (n * q - s).astype(np.float64)
    score = (num * num / den).sum(axis=1)
    score = np.floor(score * 1e4 + 0.5) / 1e4
    order = np.lexsort((ids, -score))[:20]
    out = REGISTRY["embedding_ood_mahalanobis"].spark(spark, SF_DIR).toPandas()
    assert list(out.vec_id) == list(ids[order])
    assert np.allclose(out.maha_sq, score[order], atol=1e-9)


def test_mahalanobis_planted_garbage_ranks_first(spark, tmp_path):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 0.1, 8)], 0)
        for i in range(50)
    ]
    rows.append((999, [10.0] * 8, 0))  # the garbage vector
    _write_embeddings(spark, tmp_path, rows)
    out = REGISTRY["embedding_ood_mahalanobis"].spark(
        spark, str(tmp_path)
    ).toPandas()
    assert out.vec_id.iloc[0] == 999
    assert out.maha_sq.iloc[0] > 3 * out.maha_sq.iloc[1]


# ---------------------------------------------------------------------------
# ts_hampel
# ---------------------------------------------------------------------------

def test_hampel_planted_spike_repaired(spark, tmp_path):
    series = [10] * 10 + [100] + [10] * 10
    _write_events(spark, tmp_path, series)
    out = (
        REGISTRY["ts_hampel"].spark(spark, str(tmp_path))
        .toPandas().set_index("day")
    )
    spike_day = datetime.date(2024, 1, 11)
    assert out.loc[spike_day, "is_outlier"] == 1
    assert out.loc[spike_day, "repaired"] == 10
    assert out.loc[spike_day, "med"] == 10 and out.loc[spike_day, "mad"] == 0
    clean = out.drop(index=spike_day)
    assert (clean.is_outlier == 0).all()
    assert (clean.repaired == clean.cnt).all()
    # full centered windows only: 21 days -> 15 emitted rows
    assert len(out) == len(series) - 6


def test_hampel_median_mad_match_numpy(spark):
    import duckdb

    daily = duckdb.sql(
        f"""SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    by_type: dict[str, list] = {}
    for t, d, c in daily:
        by_type.setdefault(t, []).append((d, c))
    exp = {}
    for t, seq in by_type.items():
        cnts = [c for _, c in seq]
        for i in range(3, len(seq) - 3):
            win = sorted(cnts[i - 3:i + 4])
            med = win[3]
            mad = sorted(abs(x - med) for x in cnts[i - 3:i + 4])[3]
            exp[(t, seq[i][0])] = (med, mad)
    out = REGISTRY["ts_hampel"].spark(spark, SF_DIR).toPandas()
    assert len(out) == len(exp)
    for _, r in out.iterrows():
        med, mad = exp[(r.event_type, r.day)]
        assert r.med == med and r.mad == mad
        assert r.is_outlier == int(abs(r.cnt - med) > 3 * mad)


# ---------------------------------------------------------------------------
# ts_sax
# ---------------------------------------------------------------------------

def test_sax_monotone_series_yields_sorted_words(spark, tmp_path):
    """Strictly increasing counts -> PAA increases with seg -> NTILE
    symbols ascend -> exactly the 5 expected consecutive words."""
    _write_events(spark, tmp_path, list(range(1, 29)))  # 28 days, 7 segs
    out = REGISTRY["ts_sax"].spark(spark, str(tmp_path)).toPandas()
    # 7 segments into 4 quantile buckets: sizes 2,2,2,1 -> a,a,b,b,c,c,d
    assert sorted(out.word) == ["aab", "abb", "bbc", "bcc", "ccd"]
    assert (out.n_windows == 1).all()


def test_sax_fixture_invariants(spark):
    import duckdb

    out = REGISTRY["ts_sax"].spark(spark, SF_DIR).toPandas()
    assert set("".join(out.word)) <= set("abcd")
    assert (out.word.str.len() == 3).all()
    n_days = {
        t: n
        for t, n in duckdb.sql(
            f"""SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE))
            FROM '{SF_DIR}/events.parquet' GROUP BY 1"""
        ).fetchall()
    }
    per_type = out.groupby("event_type").n_windows.sum()
    for t, nd in n_days.items():
        n_segs = nd // 4
        assert per_type.get(t, 0) == max(n_segs - 2, 0)


# ---------------------------------------------------------------------------
# graph_ktruss
# ---------------------------------------------------------------------------

def _python_ktruss_fixpoint(edges, k=4):
    es = set(edges)
    while True:
        adj: dict[int, set] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return es, sup
        es -= drop


def test_ktruss_matches_python_fixpoint(spark):
    from gcp_de_data_pipeline_cc_spark.operators.graph import (
        supplier_backbone,
    )

    bb = supplier_backbone(spark, SF_DIR).toPandas()
    edges = list(zip(bb.sa, bb.sb))
    fix_edges, fix_sup = _python_ktruss_fixpoint(edges)
    out = REGISTRY["graph_ktruss"].spark(spark, SF_DIR).toPandas()
    got = set(zip(out.sa, out.sb))
    # 3 unrolled rounds only ever over-approximate the fixpoint
    assert got >= fix_edges
    audit = out.n_below_support.iloc[0] if len(out) else 0
    assert (audit == 0) == (got == fix_edges)
    if audit == 0:
        assert (out.support >= 2).all()
        for _, r in out.iterrows():
            assert fix_sup[(r.sa, r.sb)] == r.support


def test_ktruss_inside_kcore(spark):
    """Every 4-truss node has degree >= 3 within the truss (the k-1
    core containment theorem, checkable directly on the output)."""
    out = REGISTRY["graph_ktruss"].spark(spark, SF_DIR).toPandas()
    if out.n_below_support.iloc[0] if len(out) else 1:
        return  # only meaningful at the fixpoint
    deg: dict[int, int] = {}
    for _, r in out.iterrows():
        deg[r.sa] = deg.get(r.sa, 0) + 1
        deg[r.sb] = deg.get(r.sb, 0) + 1
    assert all(d >= 3 for d in deg.values())
