"""The committed plan manifest is the current one: every plan builds and
every key's fingerprint, census, oracle hash and ``since`` match a fresh
capture (heavy tier: it rebuilds all ~570 plans in a new Spark session);
the oracle hashes alone are checked in the fast tier, without Spark."""

from __future__ import annotations

import os
import subprocess
import sys

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tools.plan_manifest import load, oracle_hash

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
