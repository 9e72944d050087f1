"""Cloud connector configuration — the deployment story.

The engine's code reads/writes through `spark.read`/`df.write` with
path + format strings, so pointing it at GCP is *configuration, not
architecture* (SURVEY.md §7 design stance). This module centralizes that
configuration for the two public connectors the reference stack uses:

- **GCS** via the Hadoop GCS connector (`gcs-connector`, public):
  `gs://bucket/...` paths work once the filesystem impl + auth are on
  the session. Replaces the reference's `gsutil`/GCSToGCSOperator usage
  (dags/pipeline_orchestration_dag.py:46,188-206).
- **BigQuery** via the public `spark-bigquery-connector`:
  `df.write.format("bigquery")` replaces the Dataflow jobs' BigQuery
  sinks (dags/pipeline_orchestration_dag.py:108,117,132,141).

Neither connector jar ships in this container, so these helpers only
*construct* configuration; nothing here touches the network. The local
test suite exercises the construction and the same call-sites run
unchanged against parquet on local disk.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameWriter

#: Spark confs that enable gs:// paths (public Hadoop GCS connector).
GCS_SESSION_CONFS: dict[str, str] = {
    "spark.hadoop.fs.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.gs.impl": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS",
    "spark.hadoop.google.cloud.auth.service.account.enable": "true",
}


@dataclass(frozen=True)
class WarehouseLocation:
    """Tiered warehouse addressing (raw → stg → cur, the reference's three
    BigQuery datasets, dags/config/pipeline_config.yaml:43-46), over any
    URI scheme: file:// locally, gs:// on GCP."""

    base_uri: str

    def tier_path(self, tier: str, table: str) -> str:
        assert tier in ("raw", "stg", "cur"), tier
        return f"{self.base_uri.rstrip('/')}/{tier}/{table}"


def bigquery_writer(
    df: DataFrame,
    table: str,
    temporary_gcs_bucket: str,
    mode: str = "overwrite",
) -> DataFrameWriter:
    """Writer configured for the public spark-bigquery-connector — the
    sink the reference's Dataflow jobs wrote through. Returned unsaved so
    callers (and tests) can inspect/redirect it."""
    return (
        df.write.format("bigquery")
        .mode(mode)
        .option("table", table)
        .option("temporaryGcsBucket", temporary_gcs_bucket)
        .option("intermediateFormat", "parquet")
    )
