"""Raw→staging CSV ingest unit tests: explicit schemas, try_cast
cleansing, quarantine of dirty rows (reference readme:7-9 semantics)."""

from __future__ import annotations

import datetime as dt

import pytest

from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import (
    EMPLOYEE_COLUMNS,
    EMPLOYEE_STAGING_CASTS,
    quarantine,
    raw_to_staging,
    read_landing_csv,
)


@pytest.fixture()
def landing(tmp_path):
    f = tmp_path / "Employee.csv"
    f.write_text(
        "emp_id,emp_name,dept_id,salary,hire_date\n"
        "1,  alice  ,10,100.5,2020-01-01\n"
        "2,bob,10,200.0,2021-06-15\n"
        "oops,carol,20,300.0,2022-03-01\n"   # bad emp_id → quarantine
        "4,dave,20,not_a_number,2023-01-01\n"  # bad salary, emp_id ok
    )
    return str(tmp_path)


def test_raw_tier_is_all_string(spark, landing):
    raw = read_landing_csv(spark, landing, EMPLOYEE_COLUMNS, ingest_date=dt.date(2024, 1, 1))
    assert [f.dataType.simpleString() for f in raw.schema[:-1]] == ["string"] * 5
    assert raw.count() == 4
    assert raw.columns[-1] == "ingest_date"


def test_staging_types_and_trims(spark, landing):
    raw = read_landing_csv(spark, landing, EMPLOYEE_COLUMNS, ingest_date=dt.date(2024, 1, 1))
    staged = raw_to_staging(raw, EMPLOYEE_STAGING_CASTS, required=["emp_id"])
    rows = {r.emp_id: r for r in staged.collect()}
    assert set(rows) == {1, 2, 4}  # 'oops' dropped via required emp_id
    assert rows[1].emp_name == "alice"  # trimmed
    assert rows[1].salary == 100.5
    assert rows[1].hire_date == dt.date(2020, 1, 1)
    assert rows[4].salary is None  # bad number → null, row kept


def test_quarantine_catches_bad_required_casts(spark, landing):
    raw = read_landing_csv(spark, landing, EMPLOYEE_COLUMNS, ingest_date=dt.date(2024, 1, 1))
    bad = quarantine(raw, EMPLOYEE_STAGING_CASTS, required=["emp_id", "salary"])
    ids = sorted(r.emp_name for r in bad.collect())
    assert ids == ["carol", "dave"]


def test_avro_roundtrip_always_registered(spark):
    """avro_roundtrip is not capability-gated: it runs through the
    pure-Python ``pyavro`` container codec, which needs no spark-avro
    jar, and must return the supplier projection."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    assert "avro_roundtrip" in REGISTRY
    out = REGISTRY["avro_roundtrip"].spark(spark, "/root/testdata/sf0.001")
    assert out.count() > 0


# ---------------------------------------------------------------------------
# pure-Python Avro container codec (sources/avro_py)
# ---------------------------------------------------------------------------

def test_avro_codec_roundtrip_all_types(tmp_path):
    import datetime

    from gcp_de_data_pipeline_cc_spark.sources import avro_py as av

    schema = {
        "type": "record", "name": "row", "fields": [
            {"name": "k", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "bal", "type": ["null", "double"]},
            {"name": "ok", "type": "boolean"},
            {"name": "blob", "type": "bytes"},
            {"name": "ts", "type": ["null", {
                "type": "long", "logicalType": "timestamp-micros"}]},
        ],
    }
    rows = [
        (1, "alice", 10.5, True, b"\x00\xff", datetime.datetime(2024, 1, 2, 3, 4, 5)),
        (2, None, None, False, b"", None),
        (-(2**40), "b—τ", -0.25, True, b"x", datetime.datetime(1969, 12, 31, 23, 59, 59)),
    ]
    p = str(tmp_path / "t.avro")
    assert av.write_avro_file(p, iter(rows), schema) == 3
    s2, back = av.read_avro_file(p)
    assert s2 == schema and back == rows
    assert av.read_avro_header(p) == schema


def test_avro_codec_null_codec_and_blocks(tmp_path):
    from gcp_de_data_pipeline_cc_spark.sources import avro_py as av

    schema = {"type": "record", "name": "row",
              "fields": [{"name": "k", "type": "long"}]}
    rows = [(i,) for i in range(1000)]
    p = str(tmp_path / "t.avro")
    # tiny blocks force multiple sync-marked blocks; null codec path
    av.write_avro_file(p, iter(rows), schema, codec="null", block_rows=64)
    _, back = av.read_avro_file(p)
    assert back == rows


def test_avro_zigzag_edge_values():
    import io

    from gcp_de_data_pipeline_cc_spark.sources import avro_py as av

    for v in (0, -1, 1, 63, -64, 64, 2**62, -(2**62), 2**63 - 1, -(2**63)):
        buf = io.BytesIO()
        av.write_long(buf, v)
        buf.seek(0)
        assert av.read_long(buf) == v, v


def test_pyavro_datasource_spark_roundtrip(spark, tmp_path):
    from gcp_de_data_pipeline_cc_spark.sources.avro_py import PyAvroDataSource

    try:
        spark.dataSource.register(PyAvroDataSource)
    except Exception:
        pass
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (3, "c", -2.25)],
        "k bigint, name string, bal double",
    ).repartition(2)
    path = str(tmp_path / "avro_out")
    src.write.format("pyavro").mode("overwrite").save(path)
    import glob as g
    assert len(g.glob(path + "/*.avro")) == 2  # one file per partition
    back = spark.read.format("pyavro").load(path)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
