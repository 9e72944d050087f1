"""Warehouse table sinks (op S4).

The reference's Dataflow jobs overwrite BigQuery raw/staging tables per
run (reference dags/pipeline_orchestration_dag.py:108,117,132,141). Here
a sink is a Parquet (or any Spark-format) write; on GCP deployment the
format string becomes ``bigquery``/``gcs`` — config, not architecture.

Scale posture: always partition big fact sinks (``partition_by``) so
downstream reads prune; writer tasks scale with upstream partitions.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def swap_in(new_path: str, path: str) -> None:
    """Replace the table at ``path`` with the one written at ``new_path``
    by rename: ``path`` → ``<path>.prev``, ``new_path`` → ``path``, then
    drop ``.prev``. At every moment the old or the new table is on disk,
    so a crash inside the swap loses neither (see :func:`recover_swap`)."""
    prev = f"{path}.prev"
    if os.path.exists(path):
        shutil.move(path, prev)
    shutil.move(new_path, path)
    shutil.rmtree(prev, ignore_errors=True)


def recover_swap(path: str) -> None:
    """Undo what a :func:`swap_in` that died midway left behind: a
    stranded ``<path>.prev`` moves back into place if ``path`` is missing,
    and is dropped otherwise."""
    prev = f"{path}.prev"
    if os.path.exists(prev):
        if os.path.exists(path):
            shutil.rmtree(prev)
        else:
            shutil.move(prev, path)
