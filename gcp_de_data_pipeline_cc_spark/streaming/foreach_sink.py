"""foreachBatch sink: arbitrary batch logic per micro-batch — the bridge
that lets a stream drive any batch operator.

Canonical use here: continuous dimension maintenance. Landing-file
updates stream in; each micro-batch upserts into a keyed parquet table
(write-then-swap, same discipline as pipeline.py). The reference
achieves this only by re-running its whole DAG per drop; the streaming
form is the always-on equivalent with checkpointed exactly-once batches.

Scale: foreachBatch hands over a normal DataFrame per batch — the upsert
inside is one key-hashed shuffle over target + batch, and batch size is
bounded by the trigger/maxFilesPerTrigger, so state never accumulates in
the stream itself (the table IS the state, which is why a restart is
safe: re-merging a batch is idempotent).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gcp_de_data_pipeline_cc_spark.sources.sink import recover_swap, swap_in, write_table


def streaming_upsert_sink(
    updates_stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously upsert the table at ``target_path`` from an update
    stream, as one availableNow query: per key, the table keeps the row
    that is greatest by ``order_cols`` among its current row and the
    batch's rows (rows tied on ``order_cols`` win in arbitrary order).
    The table is written from batch-shaped frames, so each batch reads
    it back with the batch's schema: inferring it would cost a job."""
    latest_first = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        recover_swap(target_path)  # an earlier batch may have died inside the swap
        rows = batch
        if os.path.exists(target_path):
            current = batch.sparkSession.read.schema(batch.schema).parquet(target_path)
            rows = current.unionByName(batch)
        merged = (
            rows.withColumn("_rn", F.row_number().over(latest_first))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tmp = f"{target_path}.batch-{batch_id}"
        write_table(merged, tmp)
        swap_in(tmp, target_path)

    return (
        updates_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
