"""Output checks, run outside the timed region.

Query results are reduced to a row count and an order-insensitive
content hash. The hash renders every value canonically (numbers of any
engine type as floats at a fixed number of significant digits, dates and
timestamps as ISO strings, nested values recursively), sorts the rendered
rows and hashes them, so the Spark result and the DuckDB oracle result
of one key hash alike. Two precisions are kept: a value that sits on a
rounding boundary at one of them almost never sits on one at the other.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

DIGITS = (9, 6)


def _canon(v, digits: int) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f + 0.0:.{digits}g}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k], digits)}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x, digits) for x in v) + "]"
    return str(v)


def content_hashes(columns: list[str], rows: list[tuple]) -> list[str]:
    """One hash per precision in :data:`DIGITS`, over column names and
    rows, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for digits in DIGITS:
        lines = sorted(
            "\x1f".join(_canon(r[i], digits) for i in order) for r in rows
        )
        h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
        for line in lines:
            h.update(b"\n" + line.encode())
        out.append(h.hexdigest()[:24])
    return out


def arrow_summary(table) -> dict:
    """Row count and content hashes of a pyarrow Table."""
    columns = table.column_names
    cols = [table.column(c).to_pylist() for c in columns]
    rows = list(zip(*cols)) if cols else []
    return {"rows": table.num_rows, "hashes": content_hashes(columns, rows)}


def query_ok(got: dict, want: dict) -> bool:
    """Row counts equal and, when the key has an oracle, at least one of
    the content hashes equal."""
    if got["rows"] != want["rows"]:
        return False
    if "hashes" not in want:
        return True
    return any(g == w for g, w in zip(got["hashes"], want["hashes"]))


def scd2_summary(spark, cur_path: str) -> dict:
    """Version counts of the curated SCD2 table."""
    row = spark.read.parquet(cur_path).selectExpr(
        "count(*) AS total",
        "count_if(is_current) AS current",
        "count(DISTINCT CASE WHEN is_current THEN emp_id END) AS current_keys",
        "coalesce(sum(CASE WHEN is_current THEN emp_id END), 0) AS current_ids_sum",
    ).first()
    return row.asDict()


def scd2_ok(got: dict, want: dict) -> bool:
    """Each live ``emp_id`` has exactly one current row, the live set is
    the generator's, and the version totals equal the generator's."""
    return (
        got["current"] == want["current_rows"]
        and got["current_keys"] == want["current_rows"]
        and got["current_ids_sum"] == want["live_ids_sum"]
        and got["total"] == want["total_versions"]
        and got["total"] - got["current"] == want["closed_versions"]
    )
