"""Schema parity audit: for every oracle-paired query, the Spark result
schema and the DuckDB result's *declared* column types must agree
category-by-category. Catches silent engine-type divergences (DuckDB
SUM(int)→HUGEINT, RANK()→BIGINT vs Spark int) that a value-tolerant
comparison hides but a strict driver-side schema/hash check would flag.

Declared types (Spark schema, DuckDB `rel.types`) are compared — not
pandas dtypes, which mangle both engines' DATE into different
representations.

A key's Spark schema is the one the committed plan manifest recorded
(tools/plan_manifest.py; its heavy-tier freshness test rebuilds every
plan), so only the side-effecting keys the manifest skips are built
here, and a build error fails the test.
"""

from __future__ import annotations

import re

import pytest

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR
from tools.plan_manifest import load, output_schema

ORACLE_KEYS = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)

_MANIFEST = load()
_BUILT: dict[str, list[list[str]]] = {}

_SPARK_CATEGORY = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "boolean": "bool",
    "string": "string",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}

_DUCK_CATEGORY = {
    "TINYINT": "int8",
    "SMALLINT": "int16",
    "INTEGER": "int32",
    "BIGINT": "int64",
    "HUGEINT": "int128",  # never matches a Spark type — always a bug
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "BOOLEAN": "bool",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
}


def _spark_cat(simple: str) -> str:
    if simple.startswith("array<"):
        return "array"
    if simple.startswith("decimal"):
        return "decimal"
    return _SPARK_CATEGORY.get(simple, simple)


def _duck_cat(decl: str) -> str:
    if decl.endswith("[]"):
        return "array"
    if decl.startswith("DECIMAL"):
        return "decimal"
    return _DUCK_CATEGORY.get(decl, decl)


def _output_schema(spark, name: str) -> list[list[str]]:
    """``[column, simpleString type]`` pairs of a key's output."""
    if "schema" in _MANIFEST[name]:
        return _MANIFEST[name]["schema"]
    if name not in _BUILT:
        _BUILT[name] = output_schema(REGISTRY[name].spark(spark, SF_DIR))
    return _BUILT[name]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_declared_types_match(spark, duck, name):
    spec = REGISTRY[name]
    spark_types = {c: _spark_cat(t) for c, t in _output_schema(spark, name)}
    rel = duck.sql(re.sub(r"\s+", " ", spec.oracle))
    duck_types = dict(zip(rel.columns, (_duck_cat(str(t)) for t in rel.types)))
    assert set(spark_types) == set(duck_types), f"{name}: column sets differ"
    for col in sorted(spark_types):
        assert spark_types[col] == duck_types[col], (
            f"{name}.{col}: spark={spark_types[col]} oracle={duck_types[col]}"
        )


def test_all_registered_outputs_are_scalar_typed(spark):
    """The driver's row canonicalizer crashes on pandas list/struct
    cells (r2: dedup_simhash / multimodal_features ERR) — every
    registered query's output schema must therefore be atomic-typed
    only. Library operators may return arrays; the registered WRAPPER
    serializes them (to_json/concat_ws)."""
    offenders = {}
    for name in sorted(REGISTRY):
        for col, typ in _output_schema(spark, name):
            if typ == "binary" or typ.startswith(("array<", "map<", "struct<")):
                offenders.setdefault(name, []).append(f"{col}: {typ}")
    assert not offenders, offenders
