"""Config-driven end-to-end pipeline — the reference DAG as registry keys.

The reference's entire identity is a YAML-driven composite run:
``dags/config/pipeline_config.yaml`` (tables, file patterns, sensor
settings, QC, curation model) loaded by ``load_config``
(``dags/pipeline_orchestration_dag.py:19-25``) and threaded through
``wait_files >> gcs_to_raw >> raw_to_staging >> data_quality >> run_dbt
>> archive`` (``dags/pipeline_orchestration_dag.py:64-212``).

The stages live in ``pipeline.py``, the one spine ``run_pipeline``
composes; this module supplies a TPC-H spec and the oracle-paired keys
that run it.  ``end_to_end_pipeline`` is ``run_pipeline`` end to end
(landing CSV → all-string raw parquet → typed staging parquet → QC
gates → curation join + SCD2 → curated parquet → archive with the
``{{ ds }}`` suffix), returning the curated table plus per-stage AUDIT
COLUMNS read off its ``PipelineResult``, which the oracle recomputes
independently.  ``pipeline_gcs_to_raw``, ``pipeline_raw_to_staging``
and ``pipeline_staging_to_curation`` run the stage prefix ending at
their reference DAG and return that tier's audit.

The spec is a CHECKED-IN JSON config (``configs/pipeline_e2e.json``,
the ``pipeline_config.yaml`` analog, JSON so that no YAML parser is
needed): entities, casts, required/unique keys, FK
checks, the curation select, and the SCD2 contract.  Its ``source`` /
``landing`` / ``load_date`` / ``pipeline_id`` fields drive only the
keys' fixture step, :func:`_stage_land`.  A second config exercises the
same runner in tests.

100 TB: each tier is a full parquet write/read (the reference's
BigQuery-dataset handoff), so every stage restarts from columnar
storage — the run survives any single-stage failure with tier-level
retry; counts are Spark actions on the written tables (audit = what
landed, not what was planned); the curation join broadcasts the dim
side; SCD2 init is a narrow projection.  Nothing collects rows.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark import pipeline as pl
from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.plans.registry import query
from gcp_de_data_pipeline_cc_spark.scratch import scratch_dir
from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import quarantine

_CONFIG_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configs",
    "pipeline_e2e.json",
)


def load_pipeline_config(path: str = _CONFIG_PATH) -> dict[str, Any]:
    """The reference's ``load_config`` analog
    (dags/pipeline_orchestration_dag.py:20-23)."""
    with open(path) as f:
        return json.load(f)


def _stage_land(
    spark: SparkSession, sf_dir: str, config: dict[str, Any]
) -> tuple[str, str]:
    """The keys' fixture step: land each entity's source table as a
    header CSV under a fresh per-key scratch dir, which is also the
    run's warehouse root; returns (warehouse, landing)."""
    work = scratch_dir(config["pipeline_id"])
    landing = os.path.join(work, config["landing"]["prefix"])
    for name, ent in config["entities"].items():
        src = load_table(spark, sf_dir, ent["source"]).select(*ent["columns"])
        src.write.mode("overwrite").option("header", "true").csv(
            os.path.join(landing, f"{name}.csv")
        )
    return work, landing


def _load_date(config: dict[str, Any]) -> dt.date:
    return dt.date.fromisoformat(config["load_date"])


def run_configured_pipeline(
    spark: SparkSession, sf_dir: str, config: dict[str, Any]
) -> DataFrame:
    """Land the config's sources, run ``pipeline.run_pipeline`` over
    them, and return the curated table + audit columns (see module
    docstring)."""
    work, landing = _stage_land(spark, sf_dir, config)
    r = pl.run_pipeline(spark, landing, work, _load_date(config), spec=config)
    audit = {
        "n_archived": len(r.archived),
        "n_gates_passed": len(r.gates),
        **{f"n_raw_{n}": c for n, c in r.raw_counts.items()},
        **{f"n_stg_{n}": c for n, c in r.staging_counts.items()},
    }
    audit_cols = [
        F.lit(v).cast("long").alias(k) for k, v in sorted(audit.items())
    ]
    key_cols = [F.col(c) for c in config["curation"]["scd2_key"]]
    return r.curated.select("*", *audit_cols).orderBy(*key_cols)


_E2E_ORACLE = """
WITH snap AS (
    SELECT c.c_custkey AS cust_id, c.c_name AS name,
           c.c_mktsegment AS segment,
           CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents,
           n.n_name AS nation
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
h AS (
    SELECT *,
           SHA256(CONCAT_WS(CHR(31),
               COALESCE(name, CHR(1)),
               COALESCE(segment, CHR(1)),
               COALESCE(CAST(acct_cents AS VARCHAR), CHR(1)),
               COALESCE(nation, CHR(1)))) AS row_hash
    FROM snap),
counts AS (
    SELECT CAST(2 AS BIGINT) AS n_archived,
           CAST(5 AS BIGINT) AS n_gates_passed,
           (SELECT COUNT(*) FROM customer) AS n_raw_customer,
           (SELECT COUNT(*) FROM nation) AS n_raw_nation,
           (SELECT COUNT(*) FROM customer) AS n_stg_customer,
           (SELECT COUNT(*) FROM nation) AS n_stg_nation)
SELECT h.cust_id, h.name, h.segment, h.acct_cents, h.nation, h.row_hash,
       DATE '2024-06-01' AS effective_from,
       DATE '9999-12-31' AS effective_to,
       TRUE AS is_current,
       counts.n_archived, counts.n_gates_passed,
       counts.n_raw_customer, counts.n_raw_nation,
       counts.n_stg_customer, counts.n_stg_nation
FROM h CROSS JOIN counts
ORDER BY h.cust_id
"""


# ---------------------------------------------------------------------------
# Standalone tier entry points — the reference's per-stage DAGs
# ---------------------------------------------------------------------------
#
# The reference ships each tier as an independently runnable DAG
# (gcs_to_raw_dag.py:1-95, raw_to_staging_dag.py:1-76,
# staging_to_curation_dag.py:1-98) precisely so one tier can be re-run
# without the whole chain.  Each key below runs pipeline.py's stages up
# to and including ITS stage over configs/pipeline_e2e.json and returns
# that tier's audit relation; the upstream tiers it needs are
# materialized hermetically by the same stages (in production the stage
# reads the standing raw/staging datasets — the handoff contract is
# identical parquet either way).
# Each key uses its own pipeline_id so concurrent driver runs of the
# composite and a standalone tier never share scratch.


def _tier_run(
    spark: SparkSession, sf_dir: str, pipeline_id: str
) -> tuple[dict[str, Any], str, dict[str, DataFrame], pl.PipelineResult]:
    """Land the config's sources under ``pipeline_id``'s scratch and run
    the spine's first stage (sensor + raw tier); returns (config,
    warehouse, raw tables, result) for the key's later stages."""
    config = {**load_pipeline_config(), "pipeline_id": pipeline_id}
    work, landing = _stage_land(spark, sf_dir, config)
    result = pl.PipelineResult()
    raw = pl.to_raw(spark, config, landing, work, _load_date(config), result)
    return config, work, raw, result


@query(
    "pipeline_gcs_to_raw",
    oracle="""
    SELECT * FROM (
        SELECT 'customer' AS entity,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
               CAST(6 AS BIGINT) AS n_cols,
               (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
                FROM customer) AS n_distinct_key
        UNION ALL
        SELECT 'nation',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
               CAST(3 AS BIGINT),
               (SELECT CAST(COUNT(DISTINCT n_nationkey) AS BIGINT)
                FROM nation)
    ) ORDER BY entity
    """,
)
def pipeline_gcs_to_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone TIER 1 — the reference's ``gcs_to_raw_dag``
    (gcs_to_raw_dag.py:1-95) as a driver-verified key: sensor + landing
    CSV → all-string raw parquet for every configured entity, returning
    the raw-tier audit relation (rows landed, physical column count
    including the ``ingest_date`` lineage stamp, distinct business
    keys).  The oracle recomputes each figure straight from the source
    tables — a dropped or duplicated row in the CSV→raw hop is a hash
    mismatch, which is exactly the evidence a tier re-run needs.

    100 TB: the tier is a per-entity CSV scan → parquet write; audits
    are map-side aggregates on the written tier (what LANDED, not what
    was planned)."""
    config, _, raw_tables, _ = _tier_run(spark, sf_dir, "pipeline_gcs_to_raw")
    parts = []
    for name, ent in config["entities"].items():
        raw = raw_tables[name]
        parts.append(
            raw.agg(
                F.count("*").cast("long").alias("n_rows"),
                F.countDistinct(ent["unique"][0])
                .cast("long")
                .alias("n_distinct_key"),
            ).select(
                F.lit(name).alias("entity"),
                "n_rows",
                F.lit(len(raw.columns)).cast("long").alias("n_cols"),
                "n_distinct_key",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("entity")


@query(
    "pipeline_raw_to_staging",
    oracle="""
    SELECT * FROM (
        SELECT 'customer' AS entity,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_raw,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_staged,
               CAST(0 AS BIGINT) AS n_quarantined,
               (SELECT CAST(SUM(c_custkey) AS BIGINT) FROM customer)
                   AS key_sum
        UNION ALL
        SELECT 'nation',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
               CAST(0 AS BIGINT),
               (SELECT CAST(SUM(n_nationkey) AS BIGINT) FROM nation)
    ) ORDER BY entity
    """,
)
def pipeline_raw_to_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone TIER 2 — the reference's ``raw_to_staging_dag``
    (raw_to_staging_dag.py:1-76): all-string raw parquet → typed,
    trimmed, required-key-filtered staging parquet, with the
    quarantine complement COUNTED (the cleansing-QC side of the tier,
    readme:9).  ``key_sum`` sums the business key AFTER the cast map
    ran — a string that failed try_cast would null out and shift the
    sum, so the column proves the typing hop, not just the row count.
    The raw tier is materialized hermetically from the same config (in
    production the DAG reads the standing raw dataset).

    100 TB: casts compile to Catalyst expressions over a single tier
    scan; quarantine is the same scan's complement filter."""
    config, work, raw_tables, result = _tier_run(
        spark, sf_dir, "pipeline_raw_to_staging"
    )
    staged = pl.to_staging(spark, config, work, raw_tables, result)
    parts = []
    for name, ent in config["entities"].items():
        quar = quarantine(raw_tables[name], ent["casts"], ent["required"])
        ra = raw_tables[name].agg(F.count("*").cast("long").alias("n_raw"))
        sa = staged[name].agg(
            F.count("*").cast("long").alias("n_staged"),
            F.sum(F.col(ent["unique"][0])).cast("long").alias("key_sum"),
        )
        qa = quar.agg(F.count("*").cast("long").alias("n_quarantined"))
        parts.append(
            ra.crossJoin(sa)
            .crossJoin(qa)
            .select(
                F.lit(name).alias("entity"),
                "n_raw",
                "n_staged",
                "n_quarantined",
                "key_sum",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("entity")


_S2C_ORACLE = """
WITH snap AS (
    SELECT c.c_custkey AS cust_id, c.c_name AS name,
           c.c_mktsegment AS segment,
           CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents,
           n.n_name AS nation
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
h AS (
    SELECT *,
           SHA256(CONCAT_WS(CHR(31),
               COALESCE(name, CHR(1)),
               COALESCE(segment, CHR(1)),
               COALESCE(CAST(acct_cents AS VARCHAR), CHR(1)),
               COALESCE(nation, CHR(1)))) AS row_hash
    FROM snap)
SELECT h.cust_id, h.name, h.segment, h.acct_cents, h.nation, h.row_hash,
       DATE '2024-06-01' AS effective_from,
       DATE '9999-12-31' AS effective_to,
       TRUE AS is_current,
       CAST(5 AS BIGINT) AS n_gates_passed
FROM h
ORDER BY h.cust_id
"""


@query("pipeline_staging_to_curation", oracle=_S2C_ORACLE)
def pipeline_staging_to_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standalone TIER 3 — the reference's ``staging_to_curation_dag``
    (staging_to_curation_dag.py:1-98): QC gates over the staging tier,
    then the curation join + SCD2 init → curated parquet, returning
    the curated table with the gates-passed audit column.  This is the
    ``end_to_end_pipeline`` oracle restricted to its curation stage —
    the nesting the composite's per-stage verification needs.  The
    staging tier is materialized hermetically from the same config (in
    production the DAG reads the standing staging dataset).

    100 TB: gates are count aggregates; the curation join broadcasts
    the dim side; SCD2 init is a narrow projection over one scan."""
    config, work, raw_tables, result = _tier_run(
        spark, sf_dir, "pipeline_staging_to_curation"
    )
    staged = pl.to_staging(spark, config, work, raw_tables, result)
    pl.check_gates(config, staged, result)
    curated = pl.curate(
        spark, config, work, staged, _load_date(config), result
    )
    key_cols = [F.col(c) for c in config["curation"]["scd2_key"]]
    return curated.select(
        "*", F.lit(len(result.gates)).cast("long").alias("n_gates_passed")
    ).orderBy(*key_cols)


@query("end_to_end_pipeline", oracle=_E2E_ORACLE)
def end_to_end_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``end_to_end_pipeline`` DAG as one oracle-paired
    run (dags/pipeline_orchestration_dag.py:62-212): sensor → CSV→raw →
    raw→staging → QC gates → curation join + SCD2 → archive, driven by
    the checked-in ``configs/pipeline_e2e.json``
    (``pipeline_config.yaml`` analog) with REAL parquet handoffs
    between every tier.

    The oracle recomputes the final curated tier straight from the
    source tables — valid because each tier is lossless on clean data
    (CSV roundtrip exactness is csv_roundtrip's own verified law) —
    and pins the per-stage audit counts: raw/staging row counts per
    entity, gates passed, files archived.  A dropped row, failed gate,
    or missed archive shows up as a hash mismatch, not a silent pass.

    Exactness: money is quantized to cents at curation; row_hash is
    the shared CHR(31)/CHR(1) null-safe SHA256 fingerprint
    (operators/scd2.row_fingerprint ↔ the scd2_merge oracle form)."""
    return run_configured_pipeline(spark, sf_dir, load_pipeline_config())
