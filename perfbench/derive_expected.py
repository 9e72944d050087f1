"""Derive ``expected.json``: each query key's row count and content
hashes, taken from the key's DuckDB oracle over the benchmark's
generated tables, and cross-checked against the Spark result.

Run from the repository root whenever the generator, the table scale or
a workload's key list changes::

    python3 perfbench/derive_expected.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import run as bench
from check import arrow_summary, content_hashes, query_ok
from datagen import TABLES


def main() -> int:
    bench.configure_environment()

    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    tables = bench.ensure_tables(bench.TABLE_SF, bench.TABLE_SEED)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

    spark = bench.start_session()
    out, bad = {}, []
    try:
        for key in bench.QUERY_MIX:
            cur = con.execute(REGISTRY[key].oracle)
            columns = [d[0] for d in cur.description]
            rows = cur.fetchall()
            want = {"rows": len(rows), "hashes": content_hashes(columns, rows)}
            got = arrow_summary(REGISTRY[key].spark(spark, tables).toArrow())
            status = "ok" if query_ok(got, want) else "MISMATCH"
            print(f"{key:28s} rows {want['rows']:6d} {status}", flush=True)
            if status != "ok":
                bad.append(key)
            out[key] = want
    finally:
        bench.stop_session(spark)
    path = os.path.join(bench.HERE, "expected.json")
    doc = {}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    doc[f"sf{bench.TABLE_SF}"] = out
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
