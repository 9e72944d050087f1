"""The committed plan manifest is the current one: every plan builds and
every key's fingerprint, census, oracle hash and ``since`` match a fresh
capture (heavy tier: it rebuilds all ~570 plans in a new Spark session);
the oracle hashes and the Python-before-sort rule are checked in the
fast tier."""

from __future__ import annotations

import os
import subprocess
import sys

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tools.plan_manifest import (
    SKIP,
    capture,
    load,
    oracle_hash,
    physical,
    python_under_range,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_manifest_is_fresh():
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "plan_manifest.py"), "--check"],
        cwd=_REPO,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout[-4000:]


def test_oracle_hashes_match_registry():
    """Every registry key's oracle hash, ``SKIP`` keys included: a changed
    oracle text moves its key's hash, so the key's ``since`` must be reset
    by regenerating the manifest before it is committed."""
    manifest = load()
    drifted = sorted(
        key
        for key in manifest.keys() | REGISTRY.keys()
        if key not in manifest
        or key not in REGISTRY
        or manifest[key]["oracle"] != oracle_hash(REGISTRY[key].oracle)
    )
    assert not drifted, f"oracle text changed, regenerate the manifest: {drifted}"


def test_oracle_hash_ignores_whitespace_outside_literals():
    base = oracle_hash("SELECT a,\n       'x  y' AS b\nFROM t")
    assert base == oracle_hash("  SELECT a, 'x  y' AS b FROM t ")
    assert base == oracle_hash("SELECT a , 'x  y' AS b FROM t")
    assert base != oracle_hash("SELECT a, 'x y' AS b FROM t")
    closed = oracle_hash("WITH s AS (SELECT 1)")
    assert closed == oracle_hash("WITH s AS (\n    SELECT 1\n    )")
    assert oracle_hash("f( 'a' )") == oracle_hash("f('a')")
    assert oracle_hash("f('a')") != oracle_hash("f(' a')")
    assert oracle_hash(None) is None


def test_no_python_stage_feeds_a_global_sort(spark):
    """No key plans a Python exec node in the stage below a range
    exchange, whose boundary sample would run its Python a second time:
    every committed ``python_range`` is 0, and the keys whose top-level
    plan evaluates a Python UDF are re-planned here, so a fresh one
    fails before the manifest is regenerated."""
    manifest = load()
    assert {k: e["python_range"] for k, e in manifest.items()
            if k not in SKIP and e["python_range"]} == {}
    live = {}
    for key in sorted(k for k, e in manifest.items() if e.get("python")):
        _, plans = capture(spark, key, explain=physical)
        live[key] = sum(python_under_range(p) for p in plans)
    assert live and not any(live.values()), {k: n for k, n in live.items() if n}


def test_python_under_range_reads_the_nearest_exchange():
    tree = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Sort [a#1 ASC NULLS FIRST], true, 0",
        "   +- Exchange rangepartitioning(a#1 ASC NULLS FIRST, 8)",
        "      +- SortMergeJoin [a#1], [b#2], Inner",
        "         :- ArrowEvalPython [f(x#3)#4], [c#5], 200",
        "         :  +- Scan parquet [x#3]",
        "         +- Exchange hashpartitioning(b#2, 8)",
        "            +- MapInPandas g(y#6)#7, [b#2]",
        "               +- Scan parquet [y#6]",
    ])
    assert python_under_range(tree) == 1
