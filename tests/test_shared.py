"""Session-shared relations (catalog.shared): a builder's result is
reused within the session, rebuilt once a warehouse table it reads is
rewritten, and dropped by catalog.clear()."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil

import gcp_de_data_pipeline_cc_spark as pkg
from gcp_de_data_pipeline_cc_spark import catalog
from gcp_de_data_pipeline_cc_spark.operators import graph as og
from gcp_de_data_pipeline_cc_spark.plans import corpus2, corpus_stats, llm, recsys
from tests.conftest import SF_DIR

_TRADE = {"lineitem", "orders", "customer", "supplier"}

#: every shared builder -> the warehouse tables it reads
_READS = {
    og.supplier_backbone: {"lineitem"},
    og.supplier_graph: {"lineitem"},
    og.brand_copurchase_edges: {"lineitem", "part"},
    og.lpa_labels: {"lineitem", "part"},
    og.trade_sparse_graph: _TRADE,
    og.trade_sparse_digraph: _TRADE,
    og.scc_labels: _TRADE | {"nation"},
    llm.corpus_shingles: {"documents"},
    llm.corpus_dup_pairs: {"documents"},
    llm.corpus_dup_clusters: {"documents"},
    llm.exact_topk10: {"embeddings"},
    llm._pq_trained: {"embeddings"},
    llm._pq_index: {"embeddings"},
    recsys._cf_incidence: {"lineitem", "orders", "part"},
    recsys._cf_cooccurrence: {"lineitem", "orders", "part"},
    corpus_stats.text_entropy: {"documents"},
    corpus_stats.text_repetition: {"documents"},
    corpus2.text_perplexity: {"documents"},
}


def test_reads_map_names_every_shared_builder():
    """Every catalog.shared wrapper in the package is in _READS, so a
    builder added or removed without updating the map fails here."""
    build_once = catalog.shared(lambda spark, sf_dir: None).__code__
    found = set()
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        for obj in vars(importlib.import_module(mod.name)).values():
            if getattr(obj, "__code__", None) is build_once:
                found.add(obj)
    assert found == set(_READS), {
        "missing": sorted(f.__qualname__ for f in found - set(_READS)),
        "stale": sorted(f.__qualname__ for f in set(_READS) - found),
    }


def _rewrite(sf_dir: str, table: str) -> None:
    """Rewrite a table in place with identical bytes: same path and
    size, new mtime — the overwrite a fingerprint has to notice."""
    base = os.path.join(sf_dir, f"{table}.parquet")
    paths = (
        [base]
        if os.path.isfile(base)
        else [os.path.join(r, f) for r, _, fs in os.walk(base) for f in fs]
    )
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        os.chmod(p, 0o644)
        with open(p, "wb") as f:
            f.write(data)


def test_shared_relations_rebuild_on_rewrite_and_clear(spark, tmp_path):
    d = str(tmp_path / "warehouse")
    shutil.copytree(SF_DIR, d)
    built = {fn: fn(spark, d) for fn in _READS}
    for fn, out in built.items():
        assert fn(spark, d) is out, fn.__name__

    for table in ("lineitem", "orders", "nation", "documents", "embeddings"):
        _rewrite(d, table)
        for fn, reads in _READS.items():
            if table in reads:
                out = fn(spark, d)
                assert out is not built[fn], (table, fn.__name__)
                built[fn] = out

    built = {fn: fn(spark, d) for fn in _READS}
    catalog.clear()
    for fn, out in built.items():
        assert fn(spark, d) is not out, fn.__name__
