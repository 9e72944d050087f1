"""Ingest-lifecycle queries (SURVEY.md §2.1): CSV raw→staging roundtrip,
warehouse sink roundtrip, and the full Structured-Streaming
sensor→ingest→archive cycle.

The roundtrips are oracle-checked: if the write/read/cast cycle is
lossless, the result equals a plain projection of the source table, so
the oracle is that projection. The streaming cycle is rows-only (side
effects + checkpoints are not SQL-expressible) and additionally asserted
equal to its batch twin in tests/test_streaming.py.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import (
    collect_bounded,
    ensure_session_posture,
    load_table,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query
from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import raw_to_staging, read_landing_csv
from gcp_de_data_pipeline_cc_spark.scratch import scratch_dir
from gcp_de_data_pipeline_cc_spark.sources.sink import read_table, write_table
from gcp_de_data_pipeline_cc_spark.streaming import await_drained
from gcp_de_data_pipeline_cc_spark.streaming.file_ingest import (
    ingest_available_now,
    landing_stream,
)

CUSTOMER_COLS = ("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P2 — landing-CSV lifecycle: export customer as CSV, re-ingest
    through the raw (all-string) tier, cast at staging. Losslessness makes
    the source projection the oracle."""
    src = load_table(spark, sf_dir, "customer").select(*CUSTOMER_COLS)
    tmp = scratch_dir("csv_roundtrip")
    src.write.mode("overwrite").option("header", "true").csv(f"{tmp}/landing")
    raw = read_landing_csv(spark, f"{tmp}/landing", CUSTOMER_COLS)
    staged = raw_to_staging(
        raw,
        {
            "c_custkey": "bigint",
            "c_name": "string",
            "c_mktsegment": "string",
            "c_acctbal": "double",
        },
        required=["c_custkey"],
    )
    return staged.select(*CUSTOMER_COLS)


@query(
    "sink_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — warehouse sink: overwrite-write a staged slice as a Parquet
    table (partitioned, as a 100 TB sink must be) and read it back."""
    staged = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    tmp = scratch_dir("sink_roundtrip")
    write_table(staged, f"{tmp}/orders_f", partition_by=["o_orderstatus"])
    back = read_table(spark, f"{tmp}/orders_f")
    # partitionBy moves the partition column last and reads it as string;
    # restore the contract schema
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        "o_totalprice",
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-extension — JSON-lines source format: export, re-read with an
    explicit schema (never schema inference in production: an extra full
    scan and nondeterministic under dirty data). Losslessness makes the
    source projection the oracle; timestamps survive via ISO-8601."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    tmp = scratch_dir("json_roundtrip")
    src.write.mode("overwrite").json(f"{tmp}/orders_o")
    return spark.read.schema(src.schema).json(f"{tmp}/orders_o")


@query(
    "orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'A'
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-extension — ORC columnar source format (the other lakehouse
    columnar format Spark reads natively, with the same pushdown/pruning
    machinery as parquet)."""
    src = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )
    tmp = scratch_dir("orc_roundtrip")
    src.write.mode("overwrite").orc(f"{tmp}/li_a")
    return spark.read.orc(f"{tmp}/li_a")


@query(
    "schema_evolution_read",
    oracle="""
    SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS s_acctbal
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-extension — schema evolution: a table whose later loads added a
    column (the standard lakehouse drift: producers upgrade, history
    doesn't) read as one DataFrame via ``mergeSchema``; pre-drift rows
    surface NULL for the added column, which is what the oracle asserts.

    Scale note: mergeSchema reads every file's footer at planning time —
    fine per load batch; for a 100 TB table keep the authoritative schema
    in the catalog and use it instead of re-inferring from footers.
    """
    src = load_table(spark, sf_dir, "supplier")
    tmp = scratch_dir("schema_evo")
    old = src.filter(F.col("s_suppkey") % 2 == 0).select("s_suppkey", "s_name")
    new = src.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    old.write.mode("overwrite").parquet(f"{tmp}/batch=1")
    new.write.mode("overwrite").parquet(f"{tmp}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{tmp}/batch=1", f"{tmp}/batch=2"
    )
    return merged.select("s_suppkey", "s_name", "s_acctbal")


@query(
    "avro_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-extension — Avro row-oriented source format (the streaming-
    interchange format; schema travels with the data).

    The roundtrip runs through ``format("pyavro")``, the pure-Python
    Avro Object Container File implementation in ``sources/avro_py.py``
    (spec-conformant: zigzag varints, deflate blocks, schema-in-header —
    readable by any stock Avro tool), so it needs no external spark-avro
    jar. Losslessness makes the source projection the expected result."""
    src = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    from gcp_de_data_pipeline_cc_spark.sources.avro_py import PyAvroDataSource

    tmp = scratch_dir("avro_roundtrip")
    try:
        spark.dataSource.register(PyAvroDataSource)
    except Exception:
        pass  # already registered in this session
    src.write.format("pyavro").mode("overwrite").save(f"{tmp}/supp")
    return spark.read.format("pyavro").load(f"{tmp}/supp")


@query(
    "custom_datasource_scan",
    oracle=f"""
    SELECT i AS id,
           CAST(i % 16 AS INT) AS bucket,
           (i * 2654435761) % 2147483647 / 2147483647.0 AS score
    FROM range(10000) t(i)
    """,
)
def custom_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — custom Python DataSource (PySpark 4 API): a
    user-defined ``format()`` with declared schema and a partition plan,
    read in parallel across executors. The generator is a pure function
    of the row id, so DuckDB reproduces it from ``range()`` — proving
    the source yields exactly its contract.
    """
    from gcp_de_data_pipeline_cc_spark.sources.synthetic import (
        SyntheticRowsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticRowsDataSource)
    except Exception:
        pass  # already registered in this session
    return (
        spark.read.format("synthetic_rows")
        .option("n", "10000")
        .option("num_partitions", "8")
        .load()
    )


@query("stream_ingest_e2e", oracle=None)
def stream_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/T1 — the reference's sensor → ingest → archive spine as one
    Structured Streaming run (rows-only: exactly-once + archive side
    effects are not SQL-expressible).

    Lands the customer table as CSVs, drains the landing dir with
    ``trigger(availableNow)`` + checkpoint, archives consumed files, and
    returns the ingested raw tier. Tests assert archive/output counts.
    """
    src = load_table(spark, sf_dir, "customer").select(*CUSTOMER_COLS)
    tmp = scratch_dir("stream_ingest")
    landing, archive = f"{tmp}/landing", f"{tmp}/archived"
    out, ckpt = f"{tmp}/raw", f"{tmp}/ckpt"
    src.coalesce(4).write.mode("overwrite").option("header", "true").csv(landing)

    stream = landing_stream(spark, landing, CUSTOMER_COLS, archive_dir=archive)
    q = ingest_available_now(stream, out, ckpt)
    await_drained(q)

    raw = spark.read.parquet(out)
    return raw.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_name",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


@query(
    "text_roundtrip",
    oracle="""
    SELECT doc_id, text FROM documents
    """,
)
def text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-format coverage — raw text-lines lifecycle: export documents as
    one tab-delimited line per doc (`spark.write.text`), re-ingest with
    `spark.read.text` + a split projection. The line-oriented format is
    what raw web-scrape/log corpora land as before any schema exists;
    parsing happens engine-side (codegen split, no UDF). Documents are
    tab/newline-free word soup, so the framing is lossless and the
    source projection is the oracle. At scale `text` sources split by
    line ranges exactly like CSV — same maxPartitionBytes parallelism."""
    docs = load_table(spark, sf_dir, "documents")
    tmp = scratch_dir("text_roundtrip")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").text(f"{tmp}/lines")
    lines = spark.read.text(f"{tmp}/lines")
    tab = F.instr(F.col("value"), "\t")
    return lines.select(
        F.substring_index("value", "\t", 1).cast("bigint").alias("doc_id"),
        F.substring(F.col("value"), tab + 1, F.length("value")).alias("text"),
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-extension — XML source format (built into Spark 4.0; the
    enterprise-feed shape that still arrives from ERP/B2B exports):
    write the nation dim as row-tagged XML, re-read with an EXPLICIT
    schema (inference on XML costs an extra full scan and guesses
    numerics, same policy as the JSON/CSV tiers). Losslessness makes the
    source projection the oracle."""
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tmp = scratch_dir("xml_roundtrip")
    (
        src.write.format("xml")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(f"{tmp}/nation_xml")
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .load(f"{tmp}/nation_xml")
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "partition_overwrite",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(CASE WHEN day = (SELECT MIN(day) FROM daily)
                     THEN n * 2 ELSE n END AS BIGINT) AS n_events
    FROM daily
    """,
)
def partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — DYNAMIC partition overwrite: the idempotent day
    re-load. An events table lands partitioned by day; re-processing one
    day (here: the first day, re-landed with doubled rows to make the
    replacement observable) must replace ONLY that day's partition —
    static overwrite mode would silently truncate every other day, the
    classic backfill catastrophe. This is the reference's archive→
    reprocess semantics (dags/pipeline_orchestration_dag.py:188-206) as
    a storage-layout contract.

    100 TB: the rewrite touches one partition's files; all other
    partitions are never read or written. Combined with partition-pruned
    reads (join_partition_pruned) this is what makes a daily 100 TB
    table maintainable — every load is O(day), not O(table).
    """
    ensure_session_posture(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    tmp = scratch_dir("part_overwrite")
    path = f"{tmp}/events_by_day"
    # repartition on the partition column BEFORE the partitioned write:
    # without it every shuffle partition writes a sliver into every day
    # directory (tasks × days small files — the layout compact_small_files
    # exists to repair); with it each day lands as one well-sized file
    ev.repartition("day").write.partitionBy("day").mode("overwrite").parquet(
        path
    )

    first_day = ev.agg(F.min("day").alias("d"))
    reload_slice = (
        ev.join(F.broadcast(first_day), ev.day == F.col("d"))
        .drop("d")
    )
    # re-land the day twice as large so replacement (not append) shows
    doubled = reload_slice.unionByName(reload_slice)
    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode",
                      "dynamic"):
        doubled.repartition("day").write.partitionBy("day").mode(
            "overwrite"
        ).parquet(path)

    out = spark.read.parquet(path)
    return out.groupBy(
        "event_type", F.col("day").cast("timestamp").alias("day")
    ).agg(F.count("*").alias("n_events"))



@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a SQL conf for one block, restoring the prior value after."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@query(
    "json_corrupt_quarantine",
    oracle="""
    SELECT (o_orderkey % 50 <> 0) AS parsed_ok,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 50 <> 0 THEN o_orderkey END)
                AS BIGINT) AS key_sum
    FROM orders
    GROUP BY 1
    """,
)
def json_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — corrupt-record quarantine on ingest: a JSON-lines
    feed where ~2% of lines are deliberately truncated mid-record reads
    under PERMISSIVE mode with ``columnNameOfCorruptRecord`` — parseable
    rows land typed, broken lines land whole in the corrupt column with
    every data field NULL. The raw tier keeps BOTH (the quarantine
    pattern): dropping malformed lines silently (DROPMALFORMED) loses
    the evidence QC needs, failing the job (FAILFAST) turns one bad
    producer into an outage.

    100 TB: parsing and quarantining happen inside the scan — no second
    pass; the corrupt column is NULL for good rows (pruned away
    downstream) and the quarantine query is a partition-local filter.
    """
    ensure_session_posture(spark)
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = scratch_dir("json_corrupt")
    path = f"{tmp}/orders_dirty"
    # fabricate the dirty feed deterministically: every 50th record's
    # JSON line is truncated (drop its closing brace and tail)
    lines = src.select(
        F.when(
            F.col("o_orderkey") % 50 == 0,
            F.expr("substring(to_json(struct(o_orderkey, o_orderstatus,"
                   " o_totalprice)), 1, 20)"),
        )
        .otherwise(
            F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)

    parsed = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
            " _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return parsed.groupBy(
        F.col("_corrupt").isNull().alias("parsed_ok")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query(
    "qc_reconcile_sink",
    oracle=f"""
    WITH per AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP)
                   AS month,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                             AS BIGINT)) AS BIGINT) AS cents,
               CAST(SUM(o_custkey) AS BIGINT) AS key_checksum
        FROM orders GROUP BY 1)
    SELECT month,
           n_rows AS src_rows, n_rows AS tgt_rows,
           cents AS src_cents, cents AS tgt_cents,
           key_checksum AS src_checksum, key_checksum AS tgt_checksum,
           TRUE AS reconciled
    FROM per
    """,
)
def qc_reconcile_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — source↔target reconciliation by CONTROL TOTALS:
    after landing a curated slice to the sink, re-read it and compare
    per-month row counts, exact-cents sums, and a key checksum against
    an independent aggregation of the source. The cheap standing audit
    every pipeline hop runs (table_diff is the expensive row-level
    drill-down you reach for AFTER a control total breaks) — and the
    reference's COUNT(*)>0 gate (dags/pipeline_orchestration_dag.py:
    149-167) generalized to value-preserving totals. The sink side
    here REALLY writes and re-reads parquet, so the reconciliation
    exercises the round trip; the oracle aggregates the source once
    (losslessness makes both sides identical — which IS the contract
    under test: any writer/reader corruption breaks the match).

    100 TB: both sides are map-side-combined month rollups (source
    scan and target scan, each pruned to three columns); the compare
    joins two ~month-cardinality relations. Checksums are
    order-independent integer sums, so partition layout can't perturb
    them.
    """
    src = load_table(spark, sf_dir, "orders")
    tmp = scratch_dir("reconcile_sink")
    curated = src.select("o_orderkey", "o_custkey", "o_totalprice",
                         "o_orderdate")
    curated.write.mode("overwrite").parquet(f"{tmp}/orders_curated")
    tgt = spark.read.parquet(f"{tmp}/orders_curated")

    def totals(df: DataFrame, prefix: str) -> DataFrame:
        cents = F.floor(
            F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
        ).cast("long")
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").cast("timestamp").alias(
                "month"
            )
        ).agg(
            F.count("*").alias(f"{prefix}_rows"),
            F.sum(cents).alias(f"{prefix}_cents"),
            F.sum("o_custkey").alias(f"{prefix}_checksum"),
        )

    s = totals(src, "src")
    t = totals(tgt, "tgt")
    joined = s.join(t, "month", "full_outer")
    return joined.select(
        "month",
        "src_rows",
        "tgt_rows",
        "src_cents",
        "tgt_cents",
        "src_checksum",
        "tgt_checksum",
        (
            (F.col("src_rows") == F.col("tgt_rows"))
            & (F.col("src_cents") == F.col("tgt_cents"))
            & (F.col("src_checksum") == F.col("tgt_checksum"))
        ).alias("reconciled"),
    )


# ---------------------------------------------------------------------------
# high-watermark incremental ingest (r4z wave)
# ---------------------------------------------------------------------------

#: batch cut offsets (days after the feed's first day): batch 1 loads
#: days [d0, d0+_WM_CUT1], batch 2 (d0+_WM_CUT1, d0+_WM_CUT2], batch 3
#: the remainder — the classic three-run high-watermark schedule
_WM_CUT1 = 9
_WM_CUT2 = 19


@query(
    "incremental_watermark_ingest",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day FROM events),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
    tagged AS (
        SELECT d.day,
               CASE WHEN d.day <= b.d0 + INTERVAL {_WM_CUT1} DAY THEN 1
                    WHEN d.day <= b.d0 + INTERVAL {_WM_CUT2} DAY THEN 2
                    ELSE 3 END AS batch_id
        FROM d, b)
    SELECT t.day, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(t.batch_id AS INT) AS batch_id,
           b.d1 AS watermark_day
    FROM tagged t, b
    GROUP BY t.day, t.batch_id, b.d1
    ORDER BY t.day
    """,
)
def incremental_watermark_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — the HIGH-WATERMARK incremental batch-ingest
    pattern (the ELT alternative to streaming exactly-once: each run
    loads only rows past the last persisted watermark, appends them,
    and advances the watermark): three scheduled runs load the events
    feed in day ranges [d0, d0+{c1}], (d0+{c1}, d0+{c2}], and the
    tail, each APPENDING to a real scratch parquet target with its
    batch id stamped, each overwriting a one-row watermark table.  The
    registered output reads the TARGET back — per-day row counts, the
    loading batch, and the final watermark — so parquet append
    semantics, the predicate-ranged reload, and watermark advancement
    are all exercised end-to-end, and the oracle's relational
    recompute cross-checks that the three appends landed every source
    row exactly once.

    100 TB: each run scans ONLY its watermark range (partition-pruned
    at the source on the day predicate — the entire point of the
    pattern); the audit collapses to day grain map-side.  The
    watermark is a one-row table, read before each run, never joined
    to data."""
    import datetime as _dt

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    d0, d1 = collect_bounded(
        ev.agg(F.min("day"), F.max("day")), 1, "event day bounds"
    )[0]
    target = scratch_dir("wm_ingest_target")
    wm_path = scratch_dir("wm_ingest_watermark")
    cuts = [
        d0 + _dt.timedelta(days=_WM_CUT1),
        d0 + _dt.timedelta(days=_WM_CUT2),
        d1,
    ]
    wm = None  # no watermark yet: first run bootstraps
    for batch_id, hi in enumerate(cuts, start=1):
        batch = ev.filter(F.col("day") <= F.lit(hi))
        if wm is not None:
            batch = batch.filter(F.col("day") > F.lit(wm))
        batch.select("day").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append" if batch_id > 1 else "overwrite").parquet(
            target
        )
        spark.createDataFrame(
            [(hi,)], "watermark_day DATE"
        ).write.mode("overwrite").parquet(wm_path)
        wm = hi
    loaded = spark.read.parquet(target)
    wm_tbl = spark.read.parquet(wm_path)
    return (
        loaded.groupBy("day", "batch_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .crossJoin(F.broadcast(wm_tbl))
        .select(
            "day",
            "n_events",
            F.col("batch_id").cast("int").alias("batch_id"),
            "watermark_day",
        )
        .orderBy("day")
    )


incremental_watermark_ingest.__doc__ = incremental_watermark_ingest.__doc__.format(
    c1=_WM_CUT1, c2=_WM_CUT2
)


# ---------------------------------------------------------------------------
# calendar-dimension generator (r5p wave)
# ---------------------------------------------------------------------------


@query(
    "dim_calendar_build",
    oracle="""
    WITH b AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
               CAST(MAX(o_orderdate) AS DATE) AS hi
        FROM orders),
    spine AS (
        SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
        FROM b),
    base AS (
        SELECT d,
               CAST(EXTRACT(year FROM d) AS INT) AS year,
               CAST((EXTRACT(month FROM d) + 2) // 3 AS INT) AS quarter,
               CAST(EXTRACT(month FROM d) AS INT) AS month,
               CAST(EXTRACT(isodow FROM d) AS INT) AS dow_iso,
               CAST(EXTRACT(isodow FROM d) >= 6 AS INT) AS is_weekend,
               CAST((EXTRACT(month FROM d) = 1 AND EXTRACT(day FROM d) = 1)
                 OR (EXTRACT(month FROM d) = 7 AND EXTRACT(day FROM d) = 4)
                 OR (EXTRACT(month FROM d) = 12
                     AND EXTRACT(day FROM d) = 25) AS INT)
                   AS is_fixed_holiday,
               CAST(CASE WHEN EXTRACT(month FROM d) >= 2
                    THEN EXTRACT(year FROM d)
                    ELSE EXTRACT(year FROM d) - 1 END AS INT) AS fiscal_year
        FROM spine),
    fis AS (
        SELECT *,
               LEAST(CAST(date_diff('day',
                          make_date(fiscal_year, 2, 1), d) // 7 AS INT),
                     51) AS fw
        FROM base)
    SELECT d, year, quarter, month, dow_iso, is_weekend, is_fixed_holiday,
           fiscal_year,
           CAST(fw // 13 + 1 AS INT) AS fiscal_quarter,
           CAST((fw // 13) * 3
                + CASE WHEN fw % 13 < 4 THEN 1
                       WHEN fw % 13 < 8 THEN 2 ELSE 3 END AS INT)
               AS fiscal_period_445
    FROM fis
    ORDER BY d
    """,
)
def dim_calendar_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-build tier — the CALENDAR DIMENSION generator every
    star schema ships: a dense date spine over the fact's span with
    civil attributes (year/quarter/month, ISO weekday, weekend),
    fixed-date holiday flags, and the RETAIL 4-4-5 fiscal mapping
    (fiscal year starts Feb 1; each 13-week quarter splits 4-4-5, week
    53 folds into the last period) — the join target that turns every
    "by fiscal period" report into an equi-join instead of per-query
    date math.

    Exactness: every attribute is integer calendar arithmetic —
    EXTRACT fields, integer DIV/MOD week indexing — bit-identical by
    construction.

    100 TB: the dimension is date-cardinality (a decade ≈ 3.7k rows)
    — generated in one task from a two-scalar bounds aggregate,
    broadcastable everywhere; regenerating beats maintaining (it is a
    pure function of the span)."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = b.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    m, day = F.month("d"), F.dayofmonth("d")
    dow = (F.pmod(F.dayofweek("d") + 5, F.lit(7)) + 1).cast("int")
    fy = F.when(m >= 2, F.year("d")).otherwise(F.year("d") - 1).cast("int")
    base = spine.select(
        "d",
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        m.cast("int").alias("month"),
        dow.alias("dow_iso"),
        (dow >= 6).cast("int").alias("is_weekend"),
        (
            ((m == 1) & (day == 1))
            | ((m == 7) & (day == 4))
            | ((m == 12) & (day == 25))
        )
        .cast("int")
        .alias("is_fixed_holiday"),
        fy.alias("fiscal_year"),
    )
    fw = F.least(
        F.expr("CAST(datediff(d, make_date(fiscal_year, 2, 1)) DIV 7 AS INT)"),
        F.lit(51),
    )
    fis = base.withColumn("fw", fw)
    return fis.select(
        "d",
        "year",
        "quarter",
        "month",
        "dow_iso",
        "is_weekend",
        "is_fixed_holiday",
        "fiscal_year",
        (F.expr("fw DIV 13") + 1).cast("int").alias("fiscal_quarter"),
        (
            F.expr("fw DIV 13") * 3
            + F.when(F.expr("fw % 13") < 4, 1)
            .when(F.expr("fw % 13") < 8, 2)
            .otherwise(3)
        )
        .cast("int")
        .alias("fiscal_period_445"),
    ).orderBy("d")
