"""Data-quality gate library (op C2).

The reference runs ``SELECT COUNT(*) > 0`` per staging table between
pipeline stages and fails the DAG on violation
(reference dags/pipeline_orchestration_dag.py:149-167, duplicated at
dags/staging_to_curation_dag.py:44-62). This library generalizes that
gate into a composable suite; ``run_gates`` replaces the Airflow
``BigQueryCheckOperator`` + task-failure semantics with a plain exception
in the driver program.

``non_empty`` reads a row count its caller already has (the pipeline
observes it while writing the staging table), so it runs no Spark job.
Every other gate is ONE aggregate action (a ``count()``), run when the
gate is called — no row-level materialization, which is what makes the
gates viable as a 100 TB pre-flight. ``run_gates`` takes the results and
raises :class:`QualityGateError` if any gate failed.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class GateResult:
    gate: str
    passed: bool
    observed: int  # violation count (or row count for non_empty)


class QualityGateError(RuntimeError):
    """Raised by :func:`run_gates` when any gate fails — the analog of the
    reference DAG failing at the data_quality task group."""


def non_empty(rows: int, name: str) -> GateResult:
    """The reference's literal gate: COUNT(*) > 0, over a known count."""
    return GateResult(f"{name}_non_empty", rows > 0, rows)


def unique_key(df: DataFrame, cols: Sequence[str], name: str) -> GateResult:
    """No duplicate business keys (A3 generalization)."""
    dup = (
        df.groupBy(*cols)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    return GateResult(f"{name}_unique_key", dup == 0, dup)


def no_nulls(df: DataFrame, cols: Sequence[str], name: str) -> GateResult:
    """Required columns carry no nulls (no columns → trivially passes)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | F.col(c).isNull()
    n = df.filter(pred).count()
    return GateResult(f"{name}_no_nulls", n == 0, n)


def referential_integrity(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    name: str,
) -> GateResult:
    """Every child FK resolves to a parent row (J6 left-anti shape)."""
    orphans = (
        child.select(F.col(child_key).alias("k"))
        .join(
            parent.select(F.col(parent_key).alias("k")),
            on="k",
            how="left_anti",
        )
        .count()
    )
    return GateResult(f"{name}_ref_integrity", orphans == 0, orphans)


def accepted_values(
    df: DataFrame, col: str, allowed: Sequence[str], name: str
) -> GateResult:
    """Column values restricted to an allow-list (dbt accepted_values)."""
    n = df.filter(~F.col(col).isin(list(allowed)) | F.col(col).isNull()).count()
    return GateResult(f"{name}_accepted_values", n == 0, n)


def run_gates(results: Sequence[GateResult]) -> list[GateResult]:
    """Fail the pipeline (raise) if any gate failed — DAG-failure analog."""
    failed = [r for r in results if not r.passed]
    if failed:
        detail = ", ".join(f"{r.gate} (observed={r.observed})" for r in failed)
        raise QualityGateError(f"quality gates failed: {detail}")
    return list(results)
