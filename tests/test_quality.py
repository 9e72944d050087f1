"""QC gate library tests — both passing and failing paths (SURVEY.md
§5.2(4)); the failing path must raise, mirroring the reference DAG
failing its data_quality task group."""

from __future__ import annotations

import pytest

from gcp_de_data_pipeline_cc_spark.operators import quality as q


@pytest.fixture()
def staged(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 99)],
        "emp_id long, name string, dept_id long",
    )


@pytest.fixture()
def depts(spark):
    return spark.createDataFrame([(10, "eng")], "dept_id long, dept_name string")


def test_non_empty_passes(staged):
    r = q.non_empty(staged.count(), "staged")
    assert r.passed and r.observed == 3


def test_non_empty_fails_on_empty(spark, staged):
    empty = staged.limit(0)
    r = q.non_empty(empty.count(), "staged")
    assert not r.passed
    with pytest.raises(q.QualityGateError, match="staged_non_empty"):
        q.run_gates([r])


def test_unique_key(spark, staged):
    assert q.unique_key(staged, ["emp_id"], "staged").passed
    dup = staged.union(staged.limit(1))
    r = q.unique_key(dup, ["emp_id"], "staged")
    assert not r.passed and r.observed == 1


def test_no_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "emp_id long, name string"
    )
    assert q.no_nulls(df, ["emp_id"], "t").passed
    r = q.no_nulls(df, ["name"], "t")
    assert not r.passed and r.observed == 1


def test_referential_integrity(staged, depts):
    r = q.referential_integrity(staged, "dept_id", depts, "dept_id", "staged")
    assert not r.passed and r.observed == 1  # dept 99 is an orphan


def test_accepted_values(staged):
    assert q.accepted_values(staged, "name", ["a", "b", "c"], "t").passed
    assert not q.accepted_values(staged, "name", ["a"], "t").passed


def test_no_nulls_empty_cols_trivially_passes(staged):
    r = q.no_nulls(staged, [], "t")
    assert r.passed and r.observed == 0


def test_run_gates_passes_through(staged):
    results = q.run_gates([q.non_empty(staged.count(), "staged")])
    assert len(results) == 1
