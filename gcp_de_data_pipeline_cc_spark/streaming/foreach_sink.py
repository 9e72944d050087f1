"""foreachBatch sink: arbitrary batch logic per micro-batch — the bridge
that lets a stream drive any batch operator.

Canonical use here: continuous dimension maintenance. Landing-file
updates stream in; each micro-batch SCD1-upserts into the dimension
table (write-then-swap, same discipline as pipeline.py). The reference
achieves this only by re-running its whole DAG per drop; the streaming
form is the always-on equivalent with checkpointed exactly-once batches.

Scale: foreachBatch hands over a normal DataFrame per batch — the upsert
join inside is the usual key-hashed shuffle, and batch size is bounded by
the trigger/maxFilesPerTrigger, so state never accumulates in the stream
itself (the dimension table IS the state).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gcp_de_data_pipeline_cc_spark.operators.merge import scd1_upsert
from gcp_de_data_pipeline_cc_spark.sources.sink import recover_swap, swap_in, write_table


def streaming_scd1_sink(
    updates_stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously upsert a dimension table from an update stream.

    Within one batch, later duplicates of a key are arbitrary-order; the
    batch is first deduplicated on the key (keeping one row per key) so
    the upsert is deterministic given deterministic batch contents.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(list(key_cols))
        recover_swap(target_path)  # an earlier batch may have died inside the swap
        if os.path.exists(target_path):
            # the dimension was written from a batch-shaped frame, so read
            # it with the batch's schema: inferring it would cost a job
            target = spark.read.schema(batch.schema).parquet(target_path)
            merged = scd1_upsert(target, batch, key_cols)
        else:
            merged = batch
        tmp = f"{target_path}.batch-{batch_id}"
        write_table(merged, tmp)
        swap_in(tmp, target_path)

    return (
        updates_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
