"""Cross-engine deterministic uniform draws.

Seeded keys (eval logs, A/B coins, DP noise) draw U(0,1) from a salted
md5 of a key: the first 12 hex digits (48 bits) of
``md5('<salt>:' || key)``, as the dyadic rational ``(h + 0.5) / 2^48``.
The hex-to-int path and the one division are exact in both engines, so
Spark and DuckDB produce bit-identical draws.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def u48(salt: str, key: Column | None = None) -> Column:
    """The 48-bit md5 uniform of ``key`` (a string column; default
    ``o_orderkey`` as a string) under ``salt``."""
    if key is None:
        key = F.col("o_orderkey").cast("string")
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), key)), 1, 12),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(281474976710656.0)


def sql_u48(salt: str, key: str = "CAST(o_orderkey AS VARCHAR)") -> str:
    """The DuckDB/ANSI-SQL twin of :func:`u48` — same string->int path."""
    return (
        f"(CAST(CAST('0x' || SUBSTR(md5('{salt}:' || {key}),"
        " 1, 12) AS BIGINT) AS DOUBLE) + 0.5) / 281474976710656.0"
    )
