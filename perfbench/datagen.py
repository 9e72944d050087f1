"""Seeded input generators for the benchmark.

Two families of inputs, both deterministic in their seed:

- :func:`write_tables` writes the ten warehouse tables the query registry
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``, one parquet file each) with the shapes and value
  ranges of the registry's test fixtures, at a chosen scale factor.
- :func:`write_etl_drops` writes one ``Employee.csv``/``Department.csv``
  landing drop per load date for the SCD2 pipeline, with set daily rates
  of tracked-column updates, inserts and deletes, and returns the SCD2
  totals the curated table must hold after the last load.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_COLORS = ("blue", "red", "green", "small", "large", "black", "white", "tiny")
_NOUNS = ("anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "nut")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_DAY_MS = 86_400_000


def _days_ms(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> pa.Array:
    epoch_day = (start - dt.date(1970, 1, 1)).days
    days = epoch_day + rng.integers(0, span_days, n)
    return pa.array(days * _DAY_MS, pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = n_vecs = 500
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{c} {w}" for c in _COLORS for w in _NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_ms(rng, dt.date(1995, 1, 1), 2400, n_ord),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days_ms(rng, dt.date(1995, 1, 2), 2500, n_line),
    })
    # ascending event time over 30 days, nanosecond precision on disk
    gaps = rng.exponential(30 * 86_400e9 / n_ev, n_ev)
    start_ns = int(np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64))
    ts = start_ns + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # word-soup documents; about 5% are near-copies of an earlier
    # document with a trailing " dup" marker (dedup targets)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# SCD2 landing drops
# --------------------------------------------------------------------------

_DEPARTMENTS = 20
_FIRST_NAMES = ("ana", "bo", "cy", "dee", "eli", "fay", "gus", "hal", "ivy", "jo")


def write_etl_drops(
    out_dir: str,
    seed: int,
    employees: int,
    days: int,
    update_rate: float,
    insert_rate: float,
    delete_rate: float,
    first_date: dt.date = dt.date(2024, 1, 1),
) -> dict:
    """Write ``<out_dir>/day-<k>/{Employee,Department}.csv`` for ``days``
    consecutive load dates and return the expected SCD2 totals.

    Day 0 holds ``employees`` rows. Each later day changes ``salary`` on
    ``update_rate`` of the live employees, deletes ``delete_rate`` of
    them and inserts ``insert_rate`` × live new ones, so every load
    closes (updates + deletes) versions and opens (updates + inserts).
    Department rows never change. The returned dict also lists the load
    dates and the landing bytes per day.
    """
    rng = np.random.default_rng(seed)
    next_id = employees
    live = {
        i: [f"{_FIRST_NAMES[i % 10]}_{i}", int(rng.integers(0, _DEPARTMENTS)),
            float(rng.integers(30_000, 150_000)),
            (dt.date(2010, 1, 1) + dt.timedelta(days=int(rng.integers(0, 5000)))).isoformat()]
        for i in range(employees)
    }
    dept_csv = "dept_id,dept_name,location\n" + "".join(
        f"{d},dept_{d},site_{d % 4}\n" for d in range(_DEPARTMENTS)
    )
    closed = 0
    dates, landing_bytes, employee_rows = [], [], []
    for day in range(days):
        if day > 0:
            ids = np.array(sorted(live))
            n_upd = int(round(update_rate * len(ids)))
            n_del = int(round(delete_rate * len(ids)))
            picked = rng.permutation(ids)
            for i in picked[:n_upd]:
                live[int(i)][2] += float(rng.integers(1, 5_000))
            for i in picked[n_upd:n_upd + n_del]:
                del live[int(i)]
            n_ins = int(round(insert_rate * len(ids)))
            for _ in range(n_ins):
                live[next_id] = [
                    f"{_FIRST_NAMES[next_id % 10]}_{next_id}",
                    int(rng.integers(0, _DEPARTMENTS)),
                    float(rng.integers(30_000, 150_000)),
                    (first_date + dt.timedelta(days=day)).isoformat(),
                ]
                next_id += 1
            closed += n_upd + n_del
        emp_csv = "emp_id,emp_name,dept_id,salary,hire_date\n" + "".join(
            f"{i},{v[0]},{v[1]},{v[2]:.2f},{v[3]}\n" for i, v in sorted(live.items())
        )
        day_dir = os.path.join(out_dir, f"day-{day}")
        os.makedirs(day_dir, exist_ok=True)
        for fname, text in (("Employee.csv", emp_csv), ("Department.csv", dept_csv)):
            with open(os.path.join(day_dir, fname), "w") as f:
                f.write(text)
        dates.append((first_date + dt.timedelta(days=day)).isoformat())
        landing_bytes.append(len(emp_csv) + len(dept_csv))
        employee_rows.append(len(live))
    expected = {
        "employee_rows": employee_rows,
        "current_rows": len(live),
        "closed_versions": closed,
        "total_versions": len(live) + closed,
        "live_ids_sum": sum(live),
        "load_dates": dates,
        "landing_bytes": landing_bytes,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
