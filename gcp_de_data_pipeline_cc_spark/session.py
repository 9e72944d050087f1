"""SparkSession factory.

One place that encodes the engine's execution posture. Defaults are chosen
for the 100 TB design point and merely *scaled down* for local testing:

- AQE on (runtime re-plan from real sizes: join-strategy switch, skew-join
  splitting, partition coalescing) — replaces the reference's
  THROUGHPUT_BASED Dataflow autoscaling knob
  (reference scripts/trigger_dataflow.sh:43).
- UTC session timezone — all fixtures and oracles agree on instant
  semantics (this and ``nanosAsLong`` are the correctness confs
  ``catalog.REQUIRED_SQL_CONFS`` owns).
- Arrow on — every Python-boundary crossing (pandas UDF, toPandas) is
  columnar-batched.
- `nanosAsLong` — the events fixture carries parquet TIMESTAMP(NANOS),
  which Spark's reader does not natively map; the catalog layer converts
  to microsecond TimestampType (same truncation DuckDB applies).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from gcp_de_data_pipeline_cc_spark.catalog import REQUIRED_SQL_CONFS


def _default_shuffle_partitions() -> int:
    """SPARK_GRAFT_CPUS doubles as the local[...] core spec, so it may be
    '*' — fall back to 32 for any non-integer value. Cluster: AQE
    coalesces partitions at runtime, so a static default is safe."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        return int(raw)
    except ValueError:
        return 32


DEFAULT_SHUFFLE_PARTITIONS = _default_shuffle_partitions()


def build_session(
    app_name: str = "gcp-de-data-pipeline-cc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit and this factory
    only contributes SQL posture; locally it defaults to using every core.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- optimizer posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # local test files are tiny; keep scans parallel anyway so the same
        # plans exercise multi-partition paths (cluster default 128m stands)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- quieter local runs ---
        .config("spark.ui.showConsoleProgress", "false")
    )
    # correctness posture: the confs catalog.ensure_session_posture owns
    for k, v in {**REQUIRED_SQL_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
