"""End-to-end pipeline driver — the reference DAG spine as one program.

The reference orchestrates
``wait_files >> gcs_to_raw >> raw_to_staging >> data_quality >> run_dbt
>> archive`` across Airflow + Dataflow + BigQuery + dbt
(reference dags/pipeline_orchestration_dag.py:212). Here the same spine
is one driver program over DataFrame transforms. The stages run in
order; only the ``>>`` edges are barriers. Within a stage the entities
fan out like the reference's task groups (Employee and Department side by
side): each entity's write or gate is a separate Spark job, submitted
from its own driver thread, and Spark runs jobs from separate threads at
the same time (:func:`_fan_out`).

Every stage takes an entity *spec*: the ``entities`` / ``quality`` /
``curation`` parts of ``configs/pipeline_e2e.json``.
:data:`EMPLOYEE_DEPARTMENT` is the reference's own spec;
:func:`run_pipeline` composes the stages, and the ``pipeline_*`` /
``end_to_end_pipeline`` registry keys (plans/pipeline_e2e.py) run a
prefix of the same stages over a TPC-H spec.

Stage map (reference file:line → here), tiers under ``warehouse_dir``:

- sensor + gcs_to_raw Dataflow jobs (dag:79-119)  → :func:`to_raw`:
  wait for ``<entity>.csv``, write all-string ``raw/<entity>_raw``
- raw_to_staging Dataflow jobs (dag:125-143)      → :func:`to_staging`:
  typed, trimmed, required-key-filtered ``stg/<entity>_stg``
- BigQueryCheckOperator gates (dag:149-167)       → :func:`check_gates`:
  non-empty + unique key per entity, the spec's foreign keys; raises
- dbt SCD2 curation model (dag:173-182, readme:10)→ :func:`curate`:
  fact ⋈ dim snapshot, scd2_init/scd2_apply, write-then-swap of
  ``cur/<fact><dim>_cur``
- GCSToGCSOperator archive with {{ds}} suffix (dag:188-206) →
  :func:`_archive`: ``landing/../archived/<file>.<ds>``
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.operators import quality as q
from gcp_de_data_pipeline_cc_spark.operators.scd2 import scd2_apply, scd2_init
from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import (
    DEPARTMENT_COLUMNS,
    DEPARTMENT_STAGING_CASTS,
    EMPLOYEE_COLUMNS,
    EMPLOYEE_STAGING_CASTS,
    raw_to_staging,
    read_landing_csv,
)
from gcp_de_data_pipeline_cc_spark.sources.sink import recover_swap, swap_in, write_table

# The benchmark's traced run (perfbench/run.py, instrument_pipeline)
# wraps write_table, wait_for_files, _archive and the quality gates by
# replacing these module attributes, so the stages must call them as
# module globals of this file and as q.<gate>. Its write_table wrapper
# returns None, so the row count of a write is observed by the caller
# (_write_counted), never returned by write_table. A stage that fans out
# (_fan_out) looks these globals up each time it runs, never once at
# import, and makes the call itself inside the worker thread, so each
# wrapper's span times its own thread's job.
#
# Each stage reads a table it wrote back with the schema of the frame
# that wrote it: a parquet read that infers its schema runs a Spark job,
# one given the schema runs none.

_EMP_TRACKED = ["emp_name", "dept_id", "dept_name", "location", "salary", "hire_date"]

#: the reference's Employee/Department spec (same shape as
#: configs/pipeline_e2e.json minus the fixture-only fields)
EMPLOYEE_DEPARTMENT: dict[str, Any] = {
    "entities": {
        "Employee": {
            "columns": list(EMPLOYEE_COLUMNS),
            "casts": dict(EMPLOYEE_STAGING_CASTS),
            "required": ["emp_id"],
            "unique": ["emp_id"],
        },
        "Department": {
            "columns": list(DEPARTMENT_COLUMNS),
            "casts": dict(DEPARTMENT_STAGING_CASTS),
            "required": ["dept_id"],
            "unique": ["dept_id"],
        },
    },
    "quality": {"foreign_keys": [["Employee", "dept_id", "Department", "dept_id"]]},
    "curation": {
        "fact": "Employee",
        "dim": "Department",
        "join_on": ["dept_id", "dept_id"],
        "select": [[c, c] for c in ["emp_id", *_EMP_TRACKED]],
        "scd2_key": ["emp_id"],
        "scd2_tracked": _EMP_TRACKED,
    },
}


def landing_files(spec: dict[str, Any]) -> tuple[str, ...]:
    return tuple(f"{name}.csv" for name in spec["entities"])


def curated_table(spec: dict[str, Any]) -> str:
    cur = spec["curation"]
    return f"{cur['fact']}{cur['dim']}_cur"


LANDING_FILES = landing_files(EMPLOYEE_DEPARTMENT)
CURATED_TABLE = curated_table(EMPLOYEE_DEPARTMENT)


class SensorTimeout(TimeoutError):
    """Landing files did not appear within the timeout (sensor semantics,
    reference dags/config/pipeline_config.yaml:34-35)."""


@dataclass
class PipelineResult:
    raw_counts: dict[str, int] = field(default_factory=dict)
    staging_counts: dict[str, int] = field(default_factory=dict)
    gates: list[q.GateResult] = field(default_factory=list)
    curated_versions: int = 0
    curated: DataFrame | None = None  # the swapped-in curated table, lazy
    archived: list[str] = field(default_factory=list)


def wait_for_files(
    landing_dir: str,
    files: tuple[str, ...] = LANDING_FILES,
    timeout_s: float = 3600.0,
    poke_interval_s: float = 60.0,
) -> None:
    """S5 — block until every landing file exists (batch sensor; the
    streaming path in streaming/file_ingest.py subsumes this for
    continuous deployments)."""
    deadline = time.monotonic() + timeout_s
    while True:
        missing = [f for f in files if not os.path.exists(os.path.join(landing_dir, f))]
        if not missing:
            return
        if time.monotonic() >= deadline:
            raise SensorTimeout(f"landing files never arrived: {missing}")
        time.sleep(min(poke_interval_s, max(deadline - time.monotonic(), 0.01)))


def _archive(landing_dir: str, load_date: dt.date, files: tuple[str, ...]) -> list[str]:
    """S6 — move processed files to archived/<file>.<ds> (reference
    destination_object suffix pattern, dag:195-204)."""
    archive_dir = os.path.join(landing_dir, os.pardir, "archived")
    os.makedirs(archive_dir, exist_ok=True)
    moved = []
    for f in files:
        src = os.path.join(landing_dir, f)
        if os.path.exists(src):
            dst = os.path.join(archive_dir, f"{f}.{load_date.isoformat()}")
            shutil.move(src, dst)
            moved.append(dst)
    return moved


def _curated_path(warehouse_dir: str, spec: dict[str, Any] = EMPLOYEE_DEPARTMENT) -> str:
    return os.path.join(warehouse_dir, "cur", curated_table(spec))


def _write_counted(df: DataFrame, path: str) -> int:
    """Write ``df`` to ``path`` and return the rows that entered the
    writer. The count rides the write as an Observation (the result stage
    merges each task's metrics once), so it costs no Spark job of its own;
    an empty write observes 0."""
    obs = Observation()
    write_table(df.observe(obs, F.count(F.lit(1)).alias("n")), path)
    return obs.get["n"]


def _fan_out(spark: SparkSession, fn: Callable[[Any], Any], items: Iterable[Any]) -> list[Any]:
    """Run ``fn`` over ``items``, one driver thread each, and return the
    results in item order. Each thread inherits the caller's local
    properties (job group) and tags. Like ``Executor.map``, the first
    failure in item order is re-raised, but only once every thread has
    finished, so no write is left running behind the error."""
    items = list(items)
    # one wrapper per item: each thread gets its own copy of the local
    # properties, which Spark mutates per query (the SQL execution id)
    targets = [inheritable_thread_target(spark)(fn) for _ in items]
    with ThreadPoolExecutor(max_workers=max(len(items), 1)) as pool:
        futures = [pool.submit(t, item) for t, item in zip(targets, items)]
    return [f.result() for f in futures]


def to_raw(
    spark: SparkSession,
    spec: dict[str, Any],
    landing_dir: str,
    warehouse_dir: str,
    load_date: dt.date,
    result: PipelineResult,
    sensor_timeout_s: float = 5.0,
    poke_interval_s: float = 0.1,
) -> dict[str, DataFrame]:
    """Sensor, then landing CSV → all-string raw parquet + lineage."""
    wait_for_files(landing_dir, landing_files(spec), sensor_timeout_s, poke_interval_s)

    def land(entity: tuple[str, dict[str, Any]]) -> tuple[int, DataFrame]:
        name, ent = entity
        csv = os.path.join(landing_dir, f"{name}.csv")
        path = os.path.join(warehouse_dir, "raw", f"{name}_raw")
        df = read_landing_csv(spark, csv, ent["columns"], load_date)
        return _write_counted(df, path), spark.read.schema(df.schema).parquet(path)

    raw: dict[str, DataFrame] = {}
    for name, (n, df) in zip(spec["entities"], _fan_out(spark, land, spec["entities"].items())):
        result.raw_counts[name] = n
        raw[name] = df
    return raw


def to_staging(
    spark: SparkSession,
    spec: dict[str, Any],
    warehouse_dir: str,
    raw: dict[str, DataFrame],
    result: PipelineResult,
) -> dict[str, DataFrame]:
    """Raw → typed + cleansed staging parquet."""

    def stage(entity: tuple[str, dict[str, Any]]) -> tuple[int, DataFrame]:
        name, ent = entity
        df = raw_to_staging(raw[name], ent["casts"], ent["required"]).drop("ingest_date")
        path = os.path.join(warehouse_dir, "stg", f"{name}_stg")
        return _write_counted(df, path), spark.read.schema(df.schema).parquet(path)

    staged: dict[str, DataFrame] = {}
    for name, (n, df) in zip(spec["entities"], _fan_out(spark, stage, spec["entities"].items())):
        result.staging_counts[name] = n
        staged[name] = df
    return staged


def check_gates(
    spec: dict[str, Any], staged: dict[str, DataFrame], result: PipelineResult
) -> None:
    """Quality gates, run side by side; raise (failing the run) on any
    violation."""
    gates: list[Callable[[], q.GateResult]] = []
    for name, ent in spec["entities"].items():
        gates.append(partial(q.non_empty, result.staging_counts[name], f"{name}_stg"))
        gates.append(partial(q.unique_key, staged[name], ent["unique"], f"{name}_stg"))
    for fact, col, dim, ref in spec["quality"]["foreign_keys"]:
        gates.append(
            partial(q.referential_integrity, staged[fact], col, staged[dim], ref, f"{fact}_stg")
        )
    spark = next(iter(staged.values())).sparkSession
    result.gates = q.run_gates(_fan_out(spark, lambda gate: gate(), gates))


def curate(
    spark: SparkSession,
    spec: dict[str, Any],
    warehouse_dir: str,
    staged: dict[str, DataFrame],
    load_date: dt.date,
    result: PipelineResult,
) -> DataFrame:
    """SCD2 merge of the fact ⋈ dim snapshot into the curated table (the
    reference's dbt model, dags/config/pipeline_config.yaml:90); returns
    the curated table."""
    cur = spec["curation"]
    fact_key, dim_key = cur["join_on"]
    # rename the dim key to the fact key so one USING join serves specs
    # whose keys share a name and specs whose keys do not
    dim = staged[cur["dim"]].withColumnRenamed(dim_key, fact_key)
    snapshot = (
        staged[cur["fact"]]
        .join(F.broadcast(dim), fact_key, "left")
        .select(*[F.expr(expr).alias(alias) for alias, expr in cur["select"]])
    )
    cur_path = _curated_path(warehouse_dir, spec)
    recover_swap(cur_path)  # an earlier run may have died inside the swap
    key, tracked = cur["scd2_key"], cur["scd2_tracked"]
    # scd2_init's schema is the curated table's schema by construction
    curated = scd2_init(snapshot, key, tracked, load_date)
    if os.path.exists(cur_path):
        current = spark.read.schema(curated.schema).parquet(cur_path)
        curated = scd2_apply(current, snapshot, key, tracked, load_date, close_missing=True)
    # write-then-swap: never overwrite the table still being read, and
    # never collect to the driver
    new_path = f"{cur_path}.load-{load_date.isoformat()}"
    result.curated_versions = _write_counted(curated, new_path)
    swap_in(new_path, cur_path)
    return spark.read.schema(curated.schema).parquet(cur_path)


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    load_date: dt.date,
    sensor_timeout_s: float = 5.0,
    poke_interval_s: float = 0.1,
    *,
    spec: dict[str, Any] = EMPLOYEE_DEPARTMENT,
) -> PipelineResult:
    """One manual-trigger run of the full reference pipeline."""
    result = PipelineResult()
    raw = to_raw(
        spark, spec, landing_dir, warehouse_dir, load_date, result,
        sensor_timeout_s, poke_interval_s,
    )
    staged = to_staging(spark, spec, warehouse_dir, raw, result)
    check_gates(spec, staged, result)
    result.curated = curate(spark, spec, warehouse_dir, staged, load_date, result)
    result.archived = _archive(landing_dir, load_date, landing_files(spec))
    return result
