"""Table catalog over the warehouse directory.

The reference keeps its warehouse as three BigQuery datasets (raw →
staging → curation, reference dags/config/pipeline_config.yaml:43-46);
here a warehouse is simply a directory of columnar tables, and tiering is
a naming/partitioning convention. In deployment the same code points at
object-store URIs — the connector is a config string, not architecture.

Physical notes for the 100 TB design point:

- Parquet columnar at rest; scans get column pruning + predicate pushdown
  from Catalyst for free (verify via ``df.explain``: ``ReadSchema`` /
  ``PushedFilters``).
- `events.ts` may land as parquet TIMESTAMP(NANOS) (the benchmark's
  generated tables), which Spark's reader maps to LongType under
  ``spark.sql.legacy.parquet.nanosAsLong``, or as TIMESTAMP(MICROS) (the
  test warehouse), read as TIMESTAMP_NTZ; the catalog normalizes both
  to microsecond TimestampType — the exact truncation DuckDB applies, so
  both engines see identical instants.
"""

from __future__ import annotations

import functools
import inspect
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: every table the test warehouse carries (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: runtime-settable SQL confs the engine's semantics depend on; enforced
#: here so results are correct even on a SparkSession built elsewhere
#: (e.g. the verification driver's own session).
REQUIRED_SQL_CONFS = {
    # instant semantics must match the oracle engine (naive UTC)
    "spark.sql.session.timeZone": "UTC",
    # a parquet TIMESTAMP(NANOS) events.ts is unreadable without this
    # (Spark 4.1.2: PARQUET_TYPE_ILLEGAL) and reads as raw nano longs
    # with it; TIMESTAMP(MICROS) reads as TIMESTAMP_NTZ either way —
    # normalize_event_ts handles both.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_posture(spark: SparkSession) -> None:
    """Idempotently apply the SQL confs correctness depends on."""
    for key, want in REQUIRED_SQL_CONFS.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap content fingerprint of one warehouse table: the sorted
    (relative-path, mtime_ns, size) of its parquet file(s).  :func:`shared`
    checks it so a table REWRITTEN at the same path within one Spark
    application (the test-suite overwrite pattern) forces a rebuild
    instead of silently serving frames built on stale data."""
    base = os.path.join(sf_dir, f"{name}.parquet")
    entries = []
    if os.path.isdir(base):
        for root, _, files in os.walk(base):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                entries.append(
                    (os.path.relpath(p, base), st.st_mtime_ns, st.st_size)
                )
    else:
        try:
            st = os.stat(base)
            entries.append((name, st.st_mtime_ns, st.st_size))
        except OSError:
            pass
    return tuple(sorted(entries))


#: the one session-shared relation store:
#: (applicationId, sf_dir, builder qualname, bound params)
#: -> (warehouse fingerprint, built value)
_SHARED: dict[tuple, tuple] = {}


def shared(fn):
    """Build ``fn(spark, sf_dir, *params)`` once per Spark application and
    warehouse, and hand every later call the same object.

    Several registry keys read the same derived relation (graph backbones,
    dedup pairs, quality signals) or the same driver-side values bounded
    by config (the PQ codebook and query index); the builder behind this
    decorator runs once and every consumer — in the same or any later
    query of the session — reuses what it returned, as built: a
    DataFrame, a pandas frame, a tuple, or a list.

    Key: (applicationId, sf_dir, ``fn.__qualname__``, params), with params
    bound through ``fn``'s signature and defaults applied, so
    ``f(spark, d)`` and ``f(spark, d, 8)`` share an entry when 8 is the
    default.  ``sf_dir`` stays in the key on purpose: two hard-linked
    copies of one warehouse fingerprint alike but must not share builds.

    Invalidation: each entry stores the fingerprint of every
    :data:`TABLES` entry in ``sf_dir`` at build time.  A lookup whose
    fingerprint differs rebuilds and replaces the entry, so rewriting any
    warehouse table mid-session never serves a stale relation, and no
    per-builder table list has to be kept right by hand.

    Checkpoint policy: builders end their shared relations in
    ``localCheckpoint(eager=False)`` (executor-local blocks; on a real
    cluster ``checkpoint()`` survives executor loss), and every Spark
    iteration loop cuts its state the same way through :func:`fixpoint`.
    The session runs with AQE on, and under AQE that call is NOT lazy:
    it runs every upstream shuffle and broadcast stage at call time,
    inside whichever caller builds the relation first; only the final
    stage waits for the first action.  With AQE off only broadcast
    builds run at the call; shuffle stages wait for the first action.
    """
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def build_once(spark: SparkSession, sf_dir: str, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[2:]
        key = (spark.sparkContext.applicationId, sf_dir, fn.__qualname__, params)
        fp = tuple(table_fingerprint(sf_dir, name) for name in TABLES)
        hit = _SHARED.get(key)
        if hit is not None and hit[0] == fp:
            return hit[1]
        out = fn(spark, sf_dir, *args, **kwargs)
        _SHARED[key] = (fp, out)
        return out

    return build_once


def clear() -> None:
    """Drop every shared relation, for all sessions and warehouses."""
    _SHARED.clear()


class NonConvergence(RuntimeError):
    """A :func:`fixpoint` loop hit its round cap before ``done`` held."""

    def __init__(self, name: str, max_rounds: int):
        super().__init__(f"{name}: no fixpoint within {max_rounds} rounds")
        self.name, self.max_rounds = name, max_rounds


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    max_rounds: int,
    name: str,
    done: Callable[[DataFrame, int], bool] | None = None,
) -> DataFrame:
    """The one Spark iteration loop: round ``r`` (0-based) runs
    ``state = step(state, r).localCheckpoint(eager=False)``, so each
    round's plan stays the size of one step (the :func:`shared`
    checkpoint policy: under AQE the rounds run while the caller builds
    its plan).  Without ``done`` it runs exactly ``max_rounds`` rounds.
    With ``done``, the test runs on the checkpointed state every round
    and the loop returns at the first ``True``; if it never holds within
    ``max_rounds`` the loop raises :class:`NonConvergence` rather than
    hand back an unconverged state.
    """
    for r in range(max_rounds):
        state = step(state, r).localCheckpoint(eager=False)
        if done is not None and done(state, r):
            return state
    if done is not None:
        raise NonConvergence(name, max_rounds)
    return state


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table, normalizing physical quirks.

    Column normalization happens *after* the scan node, so pushdown and
    pruning still reach the parquet reader for every other column.
    """
    ensure_session_posture(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy narrow relation across the session's full
    parallelism when the upstream scan under-splits (guide §2.5's
    "input skew: one huge unsplittable file … repartition immediately
    after the read").

    Local warehouses are single-row-group parquet files, so a scan
    yields 1–3 tasks and a per-row-expensive projection (format
    parsing, regex batteries, hashing, n-gram explode) serializes on
    one core.  At production split counts the scan already carries
    ≥ defaultParallelism partitions and this is a NO-OP — the check is
    evaluated once at plan-build time, so no exchange is added to the
    100 TB plan.  Round-robin repartition is used (no key: the inputs
    feeding this are deterministic scans, safe under retry per
    SPARK-23207's sort-before-repartition).

    Planning cost (r9 ADVICE): the ``df.rdd.getNumPartitions()`` probe
    forces analysis + physical planning of ``df`` (and file listing at
    the scan) at plan-BUILD time, and freezes a pre-AQE partition
    count.  Both are acceptable exactly because every call site is a
    plan ROOT over a fresh scan (listing is cached per session; the
    pre-AQE count IS the scan split count being tested) — do NOT call
    this inside iterative loops or on deep mid-plan relations.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to micros TimestampType, whichever way
    the reader surfaced it.

    A TIMESTAMP(NANOS) column reads (under ``nanosAsLong=true``) as raw
    nano longs; truncate to micros (integer div — matches DuckDB's ns→us
    truncation). A TIMESTAMP(MICROS) column reads as TIMESTAMP_NTZ; cast
    to TimestampType — an exact reinterpretation under the UTC session
    timezone — so every consumer (watermarks,
    unix_micros, window ranges) sees one type either way. Works on both
    batch and streaming DataFrames.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
