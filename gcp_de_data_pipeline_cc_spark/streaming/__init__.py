"""Structured Streaming tier: incremental file ingest with archive
(the reference's sensor+archive lifecycle) and event-time analytics."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from gcp_de_data_pipeline_cc_spark.catalog import (
    ensure_session_posture,
    normalize_event_ts,
)
from gcp_de_data_pipeline_cc_spark.scratch import scratch_dir

#: how long a bounded (availableNow) query may run before it is stopped
DRAIN_TIMEOUT_S = 120

#: ``spark.sql.shuffle.partitions`` a bounded query starts with.  A
#: stateful stream instantiates one state-store instance per shuffle
#: partition (per stateful operator, per side for joins), so state
#: parallelism is sized to key cardinality, not to the session's batch
#: shuffle width: 32 stores for 150 users is pure fixed overhead
#: (measured 13 s → 3 s on stream_stream_join at sf0.1).  On a cluster
#: with millions of keys, size this to the cluster instead.
STATE_PARTITIONS = 4


def await_drained(query: StreamingQuery) -> None:
    """Wait until the availableNow ``query`` has drained its source.  A
    query still running after :data:`DRAIN_TIMEOUT_S` is stopped and
    raises TimeoutError: its sink holds a partial result, and a query
    left active keeps its name, so the next run's start would fail."""
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} still running after"
            f" {DRAIN_TIMEOUT_S} s; stopped"
        )


def run_bounded(frame: DataFrame, mode: str, name: str) -> DataFrame:
    """Run the streaming ``frame`` as one availableNow query named
    ``name`` and return its output, read back lazily.

    Each micro-batch is written by foreachBatch to a scratch parquet
    directory: overwritten in ``complete`` mode (each batch carries the
    whole result), appended in ``append`` and ``update`` modes (so an
    ``update`` output holds one row per touched key per batch).  The
    output never passes through driver memory, and the read-back takes
    the stream's own schema, so it runs no Spark job.  The query starts
    with :data:`STATE_PARTITIONS` shuffle partitions (a stream clones
    the session conf at start, so the caller's value is restored right
    after) and a fresh checkpoint; see :func:`await_drained` for the
    timeout."""
    spark = frame.sparkSession
    out = scratch_dir(f"{name}_out")
    checkpoint = scratch_dir(f"{name}_checkpoint")
    write_mode = "overwrite" if mode == "complete" else "append"

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode(write_mode).parquet(out)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        query = (
            frame.writeStream.foreachBatch(write_batch)
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    await_drained(query)
    return spark.read.schema(frame.schema).parquet(out)


def events_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The warehouse's ``events`` table as a file-source stream: the
    file is copied into a scratch landing directory (one file, so one
    micro-batch) and read back with ``ts`` normalized as ``load_table``
    does.  The stream reads the file itself, not through ``load_table``,
    so the session posture is applied here."""
    ensure_session_posture(spark)
    landing = scratch_dir(f"{name}_src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{landing}/part-0.parquet")
    schema = spark.read.parquet(landing).schema
    return normalize_event_ts(spark.readStream.schema(schema).parquet(landing))
