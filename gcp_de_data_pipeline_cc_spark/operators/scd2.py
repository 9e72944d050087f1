"""SCD Type 2 merge — the reference's flagship curation semantics.

The reference's curated tier is a dbt model ``EmployeeDepartment_cur``
documented as "dbt models create final curated tables with SCD Type 2"
(reference readme:10; model name at dags/config/pipeline_config.yaml:90).
The model itself lives in an external repo, so this is a from-scratch,
Spark-first implementation of standard SCD2 semantics:

- each business key carries a history of versions with
  ``[effective_from, effective_to)`` date ranges;
- exactly one *open* version per key (``is_current`` true,
  ``effective_to`` = 9999-12-31 sentinel);
- applying a new snapshot closes changed versions at the load date and
  opens new ones; unchanged keys are untouched; re-applying the same
  snapshot is a no-op.

Change detection uses a null-safe sha256 fingerprint over the tracked
columns (the standard dbt snapshot mechanic the reference delegates to).

Scale posture: one full-outer shuffle join per load between the *open*
slice of the dimension and the snapshot, both hashed on the business key,
plus a union with untouched closed history (no shuffle — union is purely
logical). No window functions, no driver-side state; closed history can
be partition-pruned away entirely if the table is stored partitioned by
``is_current``.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: open-version sentinel (FIXTURES.md §B)
OPEN_END = dt.date(9999, 12, 31)

#: field/null separators for the fingerprint — control chars that cannot
#: collide with business text (\x01 rather than NUL: oracle engines
#: reject NUL inside varchar literals)
_FIELD_SEP = "\x1f"
_NULL_SENTINEL = "\x01"


def row_fingerprint(tracked_cols: Sequence[str]) -> Column:
    """Null-safe sha256 fingerprint of the tracked attributes (op F5).

    Nulls map to a sentinel distinct from any cast value, so
    (NULL, 'a') and ('a', NULL) hash differently — the SCD2 edge case
    called out in SURVEY.md §7.
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL))
        for c in tracked_cols
    ]
    return F.sha2(F.concat_ws(_FIELD_SEP, *parts), 256)


def scd2_init(
    snapshot: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    load_date: dt.date,
) -> DataFrame:
    """Build a fresh SCD2 dimension from the first snapshot."""
    return snapshot.select(
        *key_cols,
        *tracked_cols,
        row_fingerprint(tracked_cols).alias("row_hash"),
        F.lit(load_date).alias("effective_from"),
        F.lit(OPEN_END).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    current: DataFrame,
    snapshot: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    load_date: dt.date,
    close_missing: bool = False,
) -> DataFrame:
    """Apply one snapshot load to an existing SCD2 dimension.

    Returns the new full dimension state:

    - *changed* key → old open version closed at ``load_date``; new open
      version inserted from ``load_date``;
    - *same-day restatement* (changed key whose open version already
      starts at ``load_date``) → attributes replaced in place, no
      zero-length ``[d, d)`` version is created;
    - *new* key → open version inserted;
    - *missing* key (in dimension, absent from snapshot) → left open, or
      closed at ``load_date`` when ``close_missing``;
    - *unchanged* key → untouched.
    """
    attr_cols = [*key_cols, *tracked_cols]
    snap = snapshot.select(
        *attr_cols, row_fingerprint(tracked_cols).alias("row_hash")
    )

    open_cur = current.filter(F.col("is_current"))
    closed_hist = current.filter(~F.col("is_current"))

    c = open_cur.alias("c")
    s = snap.alias("s")
    # Both output branches consume this join inside ONE union query, so
    # Spark's ReusedExchange shares the two shuffle exchanges feeding it —
    # no .cache() needed (a cache here leaked: repeated per-load calls in
    # a long-lived session accumulate CacheManager entries that nothing
    # unpersists). Callers that materialize branches as separate actions
    # own any persist/unpersist decision themselves.
    joined = c.join(s, on=list(key_cols), how="full_outer")

    in_cur = F.col("c.row_hash").isNotNull()
    in_snap = F.col("s.row_hash").isNotNull()
    changed = in_cur & in_snap & (F.col("c.row_hash") != F.col("s.row_hash"))
    same_day = F.col("c.effective_from") == F.lit(load_date)

    # --- rows derived from the existing open version ---------------------
    missing = in_cur & ~in_snap
    close_cond = (changed & ~same_day) | (F.lit(close_missing) & missing)
    # a key opened today and already gone today would close as a
    # zero-length [d, d) version — drop it entirely instead
    vanish_same_day = F.lit(close_missing) & missing & same_day
    from_current = (
        joined.filter(in_cur & ~(changed & same_day) & ~vanish_same_day)
        .select(
            *key_cols,
            *[F.col(f"c.{t}").alias(t) for t in tracked_cols],
            F.col("c.row_hash").alias("row_hash"),
            F.col("c.effective_from").alias("effective_from"),
            F.when(close_cond, F.lit(load_date))
            .otherwise(F.col("c.effective_to"))
            .alias("effective_to"),
            (~close_cond & F.col("c.is_current")).alias("is_current"),
        )
    )

    # --- rows derived from the snapshot ----------------------------------
    insert_cond = (~in_cur) | changed
    from_snapshot = (
        joined.filter(insert_cond)
        .select(
            *key_cols,
            *[F.col(f"s.{t}").alias(t) for t in tracked_cols],
            F.col("s.row_hash").alias("row_hash"),
            # same-day restatement keeps the original version start
            F.when(changed & same_day, F.col("c.effective_from"))
            .otherwise(F.lit(load_date))
            .alias("effective_from"),
            F.lit(OPEN_END).alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )

    return closed_hist.unionByName(from_current).unionByName(from_snapshot)


def point_in_time(
    dimension: DataFrame,
    probes: DataFrame,
    key_cols: Sequence[str],
    as_of_col: str,
) -> DataFrame:
    """J7 — point-in-time lookup: join each probe row to the dimension
    version valid at ``probes[as_of_col]``.

    Executes as an equi-join on the business key with the range predicate
    applied during the merge — the standard Spark plan for
    equality+range conditions; version intervals partition the timeline,
    so each probe matches at most one version.
    """
    d = dimension.alias("d")
    p = probes.alias("p")
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (F.col(f"p.{k}") == F.col(f"d.{k}"))
    cond = (
        cond
        & (F.col(f"p.{as_of_col}") >= F.col("d.effective_from"))
        & (F.col(f"p.{as_of_col}") < F.col("d.effective_to"))
    )
    return p.join(d, cond, "left")
