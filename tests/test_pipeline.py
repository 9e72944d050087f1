"""End-to-end pipeline test — two consecutive manual-trigger runs of the
full reference spine (sensor → raw → staging → QC → SCD2 curation →
archive), plus the sensor-timeout and QC-failure paths, and the fan-out
of each stage's entities."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark import pipeline as pl
from gcp_de_data_pipeline_cc_spark.operators.quality import QualityGateError
from gcp_de_data_pipeline_cc_spark.operators.scd2 import OPEN_END
from gcp_de_data_pipeline_cc_spark.sources.sink import read_table

D1, D2 = dt.date(2024, 1, 1), dt.date(2024, 2, 1)

EMP_D1 = (
    "emp_id,emp_name,dept_id,salary,hire_date\n"
    "1,alice,10,100.0,2020-01-01\n"
    "2,bob,10,200.0,2021-06-15\n"
    "3,carol,20,300.0,2022-03-01\n"
)
EMP_D2 = (
    "emp_id,emp_name,dept_id,salary,hire_date\n"
    "1,alice,20,150.0,2020-01-01\n"   # dept + salary change
    "2,bob,10,200.0,2021-06-15\n"     # unchanged
    "4,dave,20,250.0,2024-02-01\n"    # new hire; carol departed
)
DEPT = "dept_id,dept_name,location\n10,eng,nyc\n20,ops,sfo\n"


def _land(tmp_path, emp_csv):
    landing = tmp_path / "landing"
    landing.mkdir(exist_ok=True)
    (landing / "Employee.csv").write_text(emp_csv)
    (landing / "Department.csv").write_text(DEPT)
    return str(landing)


def test_two_runs_build_scd2_history(spark, tmp_path):
    wh = str(tmp_path / "warehouse")

    landing = _land(tmp_path, EMP_D1)
    r1 = pl.run_pipeline(spark, landing, wh, D1)
    assert r1.raw_counts == {"Employee": 3, "Department": 2}
    assert r1.staging_counts == {"Employee": 3, "Department": 2}
    assert all(g.passed for g in r1.gates)
    assert r1.curated_versions == 3
    assert len(r1.archived) == 2 and r1.archived[0].endswith(".2024-01-01")

    landing = _land(tmp_path, EMP_D2)  # next day's drop
    r2 = pl.run_pipeline(spark, landing, wh, D2)
    cur = read_table(spark, pl._curated_path(wh))
    rows = {(r.emp_id, r.effective_from, r.effective_to, r.is_current): r
            for r in cur.collect()}
    # alice: closed v1 + open v2 with new dept joined through
    assert (1, D1, D2, False) in rows and (1, D2, OPEN_END, True) in rows
    assert rows[(1, D2, OPEN_END, True)].dept_name == "ops"
    # bob unchanged, carol closed (departure), dave new
    assert (2, D1, OPEN_END, True) in rows
    assert (3, D1, D2, False) in rows
    assert (4, D2, OPEN_END, True) in rows
    assert r2.curated_versions == 5
    # staging tier reflects only the latest load
    assert read_table(spark, f"{wh}/stg/Employee_stg").count() == 3


def test_sensor_times_out_without_files(spark, tmp_path):
    (tmp_path / "landing").mkdir()
    with pytest.raises(pl.SensorTimeout, match="Employee.csv"):
        pl.run_pipeline(
            spark, str(tmp_path / "landing"), str(tmp_path / "wh"), D1,
            sensor_timeout_s=0.3,
        )


def test_qc_gate_failure_stops_before_curation(spark, tmp_path):
    # employee references dept 99 that department lacks → RI gate fails
    bad = (
        "emp_id,emp_name,dept_id,salary,hire_date\n"
        "1,alice,99,100.0,2020-01-01\n"
    )
    landing = _land(tmp_path, bad)
    wh = str(tmp_path / "warehouse")
    with pytest.raises(QualityGateError, match="ref_integrity"):
        pl.run_pipeline(spark, landing, wh, D1)
    # curation never ran
    assert not os.path.exists(pl._curated_path(wh))


def test_empty_staging_fails_the_non_empty_gate(spark, tmp_path):
    # every emp_id fails the bigint cast, so staging is written empty and
    # the row count observed during that write must read 0, not block
    bad = (
        "emp_id,emp_name,dept_id,salary,hire_date\n"
        "x1,alice,10,100.0,2020-01-01\n"
        "x2,bob,10,200.0,2021-06-15\n"
    )
    landing = _land(tmp_path, bad)
    wh = str(tmp_path / "warehouse")
    with pytest.raises(QualityGateError, match=r"Employee_stg_non_empty \(observed=0\)"):
        pl.run_pipeline(spark, landing, wh, D1)
    assert not os.path.exists(pl._curated_path(wh))


def test_rerun_same_day_is_idempotent(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    landing = _land(tmp_path, EMP_D1)
    pl.run_pipeline(spark, landing, wh, D1)
    landing = _land(tmp_path, EMP_D1)  # same snapshot re-landed same day
    r = pl.run_pipeline(spark, landing, wh, D1)
    assert r.curated_versions == 3  # no duplicate versions
    cur = read_table(spark, pl._curated_path(wh))
    assert cur.filter(F.col("is_current")).count() == 3


def test_failed_swap_keeps_scd2_history(spark, tmp_path, monkeypatch):
    """A load that dies between retiring the old curated table and
    moving the new one in must not cost the history: the re-run restores
    the old table and applies on top of it instead of re-initialising."""
    wh = str(tmp_path / "warehouse")
    pl.run_pipeline(spark, _land(tmp_path, EMP_D1), wh, D1)

    move = shutil.move
    failed = []

    def move_failing_once(src, dst, *a, **k):
        if ".load-" in str(src) and not failed:
            failed.append(src)
            raise OSError("injected failure moving the new curated table")
        return move(src, dst, *a, **k)

    monkeypatch.setattr(shutil, "move", move_failing_once)
    landing = _land(tmp_path, EMP_D2)
    with pytest.raises(OSError, match="injected"):
        pl.run_pipeline(spark, landing, wh, D2)
    assert failed

    r = pl.run_pipeline(spark, landing, wh, D2)
    assert r.curated_versions == 5
    cur = read_table(spark, pl._curated_path(wh))
    assert cur.filter(F.col("effective_from") == D1).count() == 3


def test_entity_writes_of_a_stage_run_together(spark, tmp_path, monkeypatch):
    """Each raw write waits at a two-party barrier before it writes, so
    the run completes only if both entities' raw writes are in flight at
    once; a stage that wrote them one after another breaks the barrier."""
    barrier = threading.Barrier(2, timeout=20)
    write = pl.write_table

    def write_after_barrier(df, path, *a, **k):
        if f"{os.sep}raw{os.sep}" in path:
            barrier.wait()
        return write(df, path, *a, **k)

    monkeypatch.setattr(pl, "write_table", write_after_barrier)
    r = pl.run_pipeline(spark, _land(tmp_path, EMP_D1), str(tmp_path / "warehouse"), D1)
    assert r.raw_counts == {"Employee": 3, "Department": 2}
    assert r.curated_versions == 3


def test_failed_entity_write_fails_the_run_after_its_sibling(spark, tmp_path, monkeypatch):
    """One entity's failed write fails the stage, but only once the other
    entity's write has finished: nothing is left running, nothing is
    curated or archived, and no thread outlives the run."""
    write = pl.write_table

    def write_failing_department(df, path, *a, **k):
        if path.endswith("Department_raw"):
            raise OSError("injected Department_raw write failure")
        return write(df, path, *a, **k)

    monkeypatch.setattr(pl, "write_table", write_failing_department)
    landing = _land(tmp_path, EMP_D1)
    wh = str(tmp_path / "warehouse")
    threads = threading.active_count()
    with pytest.raises(OSError, match="injected Department_raw"):
        pl.run_pipeline(spark, landing, wh, D1)
    assert os.path.exists(os.path.join(wh, "raw", "Employee_raw", "_SUCCESS"))
    assert not os.path.exists(pl._curated_path(wh))
    assert sorted(os.listdir(landing)) == ["Department.csv", "Employee.csv"]
    assert threading.active_count() == threads


#: Spark jobs of one run_pipeline load on this fixture: (init, apply)
_PIPELINE_JOBS = (15, 18)


def test_pipeline_job_budget(spark, tmp_path):
    """The spine's jobs per load are pinned (a change that adds a job —
    or removes one — must update the pin), and the second load runs the
    SCD2 apply branch."""
    sc = spark.sparkContext
    wh = str(tmp_path / "warehouse")
    jobs, versions = [], []
    for load_date, emp in ((D1, EMP_D1), (D2, EMP_D2)):
        group = f"test_pipeline_job_budget:{load_date}"
        landing = _land(tmp_path, emp)
        sc.setJobGroup(group, "pipeline load budget")
        try:
            versions.append(pl.run_pipeline(spark, landing, wh, load_date).curated_versions)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert versions == [3, 5]
    assert tuple(jobs) == _PIPELINE_JOBS
