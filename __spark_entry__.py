"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The driver samples a bounded prefix of the ``queries()`` dict (round 1
checked exactly the first 50 registry keys), so ``queries()`` orders keys
by verification need, read from data alone (the ``CORRECTNESS_rNN.json``
records and the committed ``plan_manifest.json``, no Spark):

1. keys whose most recent official check failed;
2. keys whose plan or oracle changed after their last official check:
   the manifest's ``since`` round (the first round that could have
   checked the current plan and oracle) is past it;
3. keys never checked;
4. rows-only keys;
5. verified keys.

Within a tier the key checked longest ago comes first (never checked
counts as round 0), and registry order breaks ties.  A fixed failure or
a changed plan is thus re-verified by the official driver the very next
round, and coverage rotates across rounds without dropping any registry
entry.

All real logic lives in the ``gcp_de_data_pipeline_cc_spark`` package;
this module only adapts its query registry to the driver's shape.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["curation_revenue_by_nation"].spark(spark, SMOKE_SF_DIR)


def _prior_verification_status() -> dict[str, tuple[int, int]]:
    """Per-key ``(status, round)`` from the MOST RECENT CORRECTNESS_rNN.json
    mentioning it; keys no record mentions are never checked, ``(0, 0)``.

    Status -1 = most recent official check FAILED (error or hash
    mismatch); 0 = never checked; 1 = checked rows-only (``no_oracle``)
    and the key STILL has no oracle; 2 = fully passed (rows+schema+hash).
    ``round`` is the NN of that record's file.

    Two deliberate recency rules:

    * Files are processed in round order and a LATER record overrides an
      earlier one, so a key that regresses after once passing is
      re-prioritized (max-over-rounds would mask the regression forever).
    * A ``no_oracle`` record is only status 1 while the key remains
      oracle-less.  If the key has SINCE been upgraded to oracle-paired
      (``REGISTRY[key].oracle is not None``), the stale rows-only record
      is treated as never-checked (status 0) so the upgrade actually
      reaches an official artifact instead of sorting behind every
      never-sampled key.
    """
    status: dict[str, tuple[int, int]] = {}
    records = []
    for path in glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            records.append((int(m.group(1)), path))
    for rnd, path in sorted(records):
        try:
            with open(path) as f:
                results = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(results, dict):
            continue
        for key, rec in results.items():
            if not isinstance(rec, dict):
                continue
            if rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match"):
                level = 2
            elif rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None:
                spec = REGISTRY.get(key)
                level = 0 if (spec is not None and spec.oracle is not None) else 1
            else:
                level = -1
            status[key] = (level, rnd)  # later rounds override earlier ones
    return status


def _plan_manifest() -> dict[str, dict]:
    """The committed ``plan_manifest.json``, read here rather than through
    ``tools/plan_manifest.py`` so the driver contract imports nothing
    from the dev tools."""
    with open(os.path.join(_REPO_DIR, "plan_manifest.json")) as f:
        return json.load(f)


def plan_changed_keys(status: dict[str, tuple[int, int]] | None = None) -> set[str]:
    """Registry keys whose manifest ``since`` round is past their last
    official check: the driver has not yet seen their current plan or
    oracle."""
    if status is None:
        status = _prior_verification_status()
    return {
        key
        for key, rec in _plan_manifest().items()
        if key in REGISTRY and rec["since"] > status.get(key, (0, 0))[1]
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry key, in verification-need order (module docstring)."""
    status = _prior_verification_status()
    changed = plan_changed_keys(status)

    def need(name: str) -> tuple[int, int]:
        level, last = status.get(name, (0, 0))
        tier = 0 if level < 0 else 1 if name in changed else level + 2
        return tier, last

    names = sorted(REGISTRY, key=need)  # stable: registry order breaks ties
    return {name: REGISTRY[name].spark for name in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query key; keys without an oracle are
    genuinely non-SQL-expressible ops (driver records rows-only checks)."""
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
