"""The driver runs queries on a SparkSession *it* builds — none of our
session-factory configs are guaranteed. The catalog must enforce the
confs correctness depends on (UTC instants, nanos handling) on whatever
session it is handed."""

from __future__ import annotations

from gcp_de_data_pipeline_cc_spark.catalog import ensure_session_posture, load_table
from tests.conftest import SF_DIR


def test_posture_enforced_on_foreign_session(spark):
    # simulate a foreign session state: wrong tz, nanos conf unset
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, SF_DIR, "events")
        # scan succeeds (nanos conf re-applied) and ts is a real timestamp
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() > 0
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        ensure_session_posture(spark)


def test_posture_is_idempotent(spark):
    ensure_session_posture(spark)
    ensure_session_posture(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_nanos_events_ts_reads_as_truncated_micros(spark, tmp_path):
    """A warehouse whose events.ts is parquet TIMESTAMP(NANOS) (the
    benchmark's generated tables; the test warehouse is MICROS) reads
    through load_table on a session without the nanos conf, with ts
    truncated to micros the way DuckDB truncates it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    nanos = 1_704_067_942_672_563_483
    pq.write_table(
        pa.table({"ts": pa.array([nanos], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        events = load_table(spark, str(tmp_path), "events")
        assert dict(events.dtypes)["ts"] == "timestamp"
        (micros,) = events.select(F.unix_micros("ts")).first()
    finally:
        ensure_session_posture(spark)
    assert micros == nanos // 1000
