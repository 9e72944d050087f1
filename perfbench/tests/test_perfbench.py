"""Tests of the benchmark's own parts; none of them starts Spark.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import check  # noqa: E402
import datagen  # noqa: E402
import run as bench  # noqa: E402
from spans import BOOKKEEPING, Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


# -- generators ----------------------------------------------------------

def test_etl_drops_byte_identical_for_same_seed(tmp_path):
    args = dict(employees=200, days=3, update_rate=0.1, insert_rate=0.05, delete_rate=0.05)
    datagen.write_etl_drops(str(tmp_path / "a"), 7, **args)
    datagen.write_etl_drops(str(tmp_path / "b"), 7, **args)
    datagen.write_etl_drops(str(tmp_path / "c"), 8, **args)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_tables_byte_identical_for_same_seed(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 0.0002, 3)
    datagen.write_tables(str(tmp_path / "b"), 0.0002, 3)
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert sorted(a) == sorted(f"{t}.parquet" for t in datagen.TABLES)
    assert a == b


def test_scd2_totals_hand_checked(tmp_path):
    # 10 employees; each of the two later days updates round(0.2*10)=2,
    # deletes 1 and inserts 1 => 10 live, 3 closed versions per day
    want = datagen.write_etl_drops(
        str(tmp_path), 1, employees=10, days=3,
        update_rate=0.2, insert_rate=0.1, delete_rate=0.1,
    )
    assert want["employee_rows"] == [10, 10, 10]
    assert want["current_rows"] == 10
    assert want["closed_versions"] == 6
    assert want["total_versions"] == 16


def _replay_scd2(drop_dir: str, days: int) -> tuple[int, int, int]:
    """Reference SCD2 version counts computed from the CSV files alone."""
    prev: dict[str, tuple] = {}
    versions = closed = 0
    for day in range(days):
        with open(os.path.join(drop_dir, f"day-{day}", "Employee.csv")) as f:
            cur = {r["emp_id"]: tuple(r.values()) for r in csv.DictReader(f)}
        closed += sum(1 for k, v in prev.items() if cur.get(k) != v)
        versions += sum(1 for k, v in cur.items() if prev.get(k) != v)
        prev = cur
    return len(prev), closed, versions


@pytest.mark.parametrize("seed", [0, 5])
def test_scd2_totals_match_replay_of_files(tmp_path, seed):
    want = datagen.write_etl_drops(
        str(tmp_path), seed, employees=300, days=4,
        update_rate=0.07, insert_rate=0.03, delete_rate=0.02,
    )
    assert _replay_scd2(str(tmp_path), 4) == (
        want["current_rows"], want["closed_versions"], want["total_versions"]
    )


# -- checks and spans ----------------------------------------------------

def test_content_hash_ignores_row_and_column_order_and_int_float():
    a = check.content_hashes(["k", "v"], [(1, 2.5), (2, 3.0)])
    b = check.content_hashes(["v", "k"], [(3, 2.0), (2.5, 1)])
    assert a == b
    assert a != check.content_hashes(["k", "v"], [(1, 2.5), (2, 3.5)])


def test_self_times_sum_to_root_span():
    t = Tracer("r")
    with t.span("op"):
        with t.span("plans.build"):
            pass
        with t.span("exec"):
            with t.span(BOOKKEEPING):
                pass
    root = t.spans[0].end - t.spans[0].start
    assert sum(t.self_times().values()) == pytest.approx(root)


# -- result line vs BENCHMARK.json ---------------------------------------

def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_run() -> SimpleNamespace:
    t = Tracer("r")
    with t.span("op"):
        with t.span("plans.build"):
            pass
    return SimpleNamespace(
        tracer=t, pass_walls=[1.0], pass_steal=[0.1], pass_cpu=[2.0],
        op_latencies=[0.5, 0.7], totals={},
        stream_batches=[], written=[0, 0], landing_bytes=0, attempted=2, failed=0,
    )


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    spec = _spec()
    run = _fake_run()
    setup = {"start": 1.0, "warmup": 2.0}
    if trace:
        values, wanted = bench.layer_metrics(run, setup), spec["per_layer"]
    else:
        values, wanted = bench.end_to_end_metrics(run, setup, 100.0), spec["end_to_end"]
    assert set(values) == {m["name"] for m in wanted}
    line = bench.result(run, values, wanted)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    json.dumps(line)


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
