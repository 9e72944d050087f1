"""Session-shared relations (catalog.shared): a builder's result is
reused within the session, rebuilt once a warehouse table it reads is
rewritten, and dropped by catalog.clear().  Table schemas are one such
entry, so a table the session has read plans its next read without a
Spark job."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil

from pyspark.sql import functions as F

import gcp_de_data_pipeline_cc_spark as pkg
from gcp_de_data_pipeline_cc_spark import catalog
from gcp_de_data_pipeline_cc_spark.operators import graph as og
from gcp_de_data_pipeline_cc_spark.plans import (
    REGISTRY,
    corpus2,
    corpus_stats,
    llm,
    recsys,
)
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
    llm._pq_stratum: {"embeddings"},
    llm._pq_index: {"embeddings"},
    recsys._cf_incidence: {"lineitem", "orders", "part"},
    recsys._cf_cooccurrence: {"lineitem", "orders", "part"},
    corpus_stats.text_entropy: {"documents"},
    corpus_stats.text_repetition: {"documents"},
    corpus2.text_perplexity: {"documents"},
    catalog.table_schema: {"lineitem"},
}

#: arguments after (spark, sf_dir) for builders that take any
_ARGS = {catalog.table_schema: ("lineitem",)}


def _build(fn, spark, sf_dir):
    return fn(spark, sf_dir, *_ARGS.get(fn, ()))


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
    built = {fn: _build(fn, spark, d) for fn in _READS}
    for fn, out in built.items():
        assert _build(fn, spark, d) is out, fn.__name__

    for table in ("lineitem", "orders", "nation", "documents", "embeddings"):
        _rewrite(d, table)
        for fn, reads in _READS.items():
            if table in reads:
                out = _build(fn, spark, d)
                assert out is not built[fn], (table, fn.__name__)
                built[fn] = out

    built = {fn: _build(fn, spark, d) for fn in _READS}
    catalog.clear()
    for fn, out in built.items():
        assert _build(fn, spark, d) is not out, fn.__name__


def _jobs(spark, group: str, build) -> int:
    """Spark jobs ``build()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_runs_no_job(spark, tmp_path):
    d = str(tmp_path / "warehouse")
    shutil.copytree(SF_DIR, d)
    for group, jobs in (("first_read", 1), ("second_read", 0)):
        read = _jobs(spark, group, lambda: catalog.load_table(spark, d, "orders"))
        assert read == jobs, group


def test_load_table_sees_a_column_added_mid_session(spark, tmp_path):
    d = str(tmp_path / "warehouse")
    shutil.copytree(SF_DIR, d)
    before = catalog.load_table(spark, d, "nation")
    n = before.count()
    wider = f"{tmp_path}/nation_wider.parquet"
    before.withColumn("extra", F.lit(1)).write.parquet(wider)
    os.chmod(d, 0o755)
    os.remove(f"{d}/nation.parquet")
    shutil.move(wider, f"{d}/nation.parquet")
    after = catalog.load_table(spark, d, "nation")
    assert after.columns == before.columns + ["extra"]
    assert after.filter(F.col("extra") == 1).count() == n


def test_single_scan_keys_build_without_jobs_once_lineitem_is_read(spark):
    catalog.load_table(spark, SF_DIR, "lineitem")
    keys = ("agg_grouped", "tpch_q1_pricing_summary", "udf_pandas_scalar")

    def build():
        for key in keys:
            REGISTRY[key].spark(spark, SF_DIR)

    assert _jobs(spark, "single_scan_build", build) == 0
