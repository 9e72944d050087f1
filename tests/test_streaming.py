"""Structured Streaming tests: the sensor→ingest→archive lifecycle
(exactly-once across restarts), and batch≡stream equality for the
event-time window operators (the strongest available oracle for
streaming semantics)."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark import catalog
from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import EMPLOYEE_COLUMNS
from gcp_de_data_pipeline_cc_spark.streaming import events_stream, run_bounded
from gcp_de_data_pipeline_cc_spark.streaming.file_ingest import (
    ingest_available_now,
    landing_stream,
)
from gcp_de_data_pipeline_cc_spark.streaming.foreach_sink import streaming_upsert_sink
from gcp_de_data_pipeline_cc_spark.streaming.windows import (
    streaming_dedup,
    tumbling_counts,
    with_watermark,
)
from tests.conftest import SF_DIR

EMP_HEADER = "emp_id,emp_name,dept_id,salary,hire_date\n"


def _write_landing(tmp_path, name, rows):
    (tmp_path / "landing").mkdir(exist_ok=True)
    (tmp_path / "landing" / name).write_text(
        EMP_HEADER + "".join(f"{r},e{r},10,100.0,2024-01-01\n" for r in rows)
    )


def test_ingest_lifecycle_exactly_once_with_archive(spark, tmp_path):
    landing = str(tmp_path / "landing")
    archive = str(tmp_path / "archived")
    out, ckpt = str(tmp_path / "raw"), str(tmp_path / "ckpt")

    _write_landing(tmp_path, "Employee_1.csv", range(0, 5))
    stream = landing_stream(spark, landing, EMPLOYEE_COLUMNS, archive_dir=archive)
    q = ingest_available_now(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5

    # second run with the same checkpoint: a new file arrives; the old one
    # must not be re-ingested (exactly-once via checkpoint, not archive)
    _write_landing(tmp_path, "Employee_2.csv", range(100, 103))
    stream = landing_stream(spark, landing, EMPLOYEE_COLUMNS, archive_dir=archive)
    q = ingest_available_now(stream, out, ckpt)
    q.awaitTermination(120)
    ingested = spark.read.parquet(out)
    assert ingested.count() == 8
    assert ingested.select("emp_id").distinct().count() == 8

    # archive side effect: consumed file moved out of landing
    archived = list((tmp_path / "archived").rglob("*.csv"))
    assert len(archived) >= 1, "cleanSource=archive moved nothing"


def test_ingest_restart_mid_drain_no_loss_no_dupes(spark, tmp_path):
    """Adversarial exactly-once (r4 verdict #7): KILL the drain mid-run
    and restart from the same checkpoint — the union of the two runs
    must contain every source row exactly once.  maxFilesPerTrigger=1
    forces one micro-batch per file so the stop lands between commits;
    the file sink's _spark_metadata transaction log must also shield
    any half-written batch from the final read."""
    import time as _t

    landing = str(tmp_path / "landing")
    out, ckpt = str(tmp_path / "raw"), str(tmp_path / "ckpt")
    n_files, rows_per = 12, 40
    for i in range(n_files):
        _write_landing(
            tmp_path, f"Employee_{i}.csv",
            range(i * rows_per, (i + 1) * rows_per),
        )

    stream = landing_stream(
        spark, landing, EMPLOYEE_COLUMNS, max_files_per_trigger=1
    )
    q = ingest_available_now(stream, out, ckpt)
    # wait for at least one committed batch, then kill mid-drain
    deadline = _t.time() + 120
    while _t.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _t.sleep(0.1)
    q.stop()
    q.awaitTermination(60)
    first = spark.read.parquet(out).count()
    assert first < n_files * rows_per, "stop landed after the full drain"

    # restart from the same checkpoint: the remainder drains, nothing
    # re-ingests
    stream = landing_stream(
        spark, landing, EMPLOYEE_COLUMNS, max_files_per_trigger=1
    )
    q = ingest_available_now(stream, out, ckpt)
    q.awaitTermination(120)
    ingested = spark.read.parquet(out)
    assert ingested.count() == n_files * rows_per  # no loss, no dupes
    assert ingested.select("emp_id").distinct().count() == n_files * rows_per

    # a third run over the drained checkpoint is a no-op
    stream = landing_stream(
        spark, landing, EMPLOYEE_COLUMNS, max_files_per_trigger=1
    )
    q = ingest_available_now(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_files * rows_per


def test_tumbling_stream_equals_batch(spark):
    sdf = events_stream(spark, SF_DIR, "tumbling_test")
    # complete mode: append+watermark would hold back windows newer than
    # the final watermark (they'd emit on the *next* batch in production)
    agg = tumbling_counts(with_watermark(sdf, "1 hour"))
    got = {
        tuple(r) for r in run_bounded(agg, "complete", "tumbling_test").collect()
    }
    want = {
        tuple(r)
        for r in tumbling_counts(load_table(spark, SF_DIR, "events")).collect()
    }
    assert got == want and len(got) > 0


#: the dimension after the two SCD1 batches of _land_scd1_drops
_SCD1_DIMENSION = {
    "1": ("20", "150.0"),  # updated by batch 2 (raw tier is all-string)
    "2": ("10", "200.0"),  # untouched from batch 1
    "3": ("20", "300.0"),  # inserted by batch 2
}


def _land_scd1_drops(tmp_path):
    """Two employee drops with distinct mtimes: one micro-batch each."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a_day1.csv").write_text(
        EMP_HEADER + "1,alice,10,100.0,2020-01-01\n2,bob,10,200.0,2021-01-01\n"
    )
    time.sleep(1.1)  # distinct mtimes → deterministic batch order
    (landing / "b_day2.csv").write_text(
        EMP_HEADER + "1,alice,20,150.0,2020-01-01\n3,carol,20,300.0,2022-01-01\n"
    )
    os.utime(landing / "b_day2.csv")


def _start_scd1_sink(spark, tmp_path):
    """Start (or restart from its checkpoint) the foreachBatch upsert
    sink over the landed drops, latest ingest winning per employee;
    returns (query, dimension path)."""
    stream = landing_stream(spark, str(tmp_path / "landing"), EMPLOYEE_COLUMNS,
                            max_files_per_trigger=1)
    target = str(tmp_path / "dim" / "employee")
    query = streaming_upsert_sink(
        stream, target, ["emp_id"], ["ingest_ts"], str(tmp_path / "ckpt")
    )
    return query, target


def _dimension(spark, target):
    return {r.emp_id: (r.dept_id, r.salary) for r in spark.read.parquet(target).collect()}


def test_foreachbatch_scd1_sink_maintains_dimension(spark, tmp_path):
    """Two micro-batches of employee updates upserted via foreachBatch
    must leave the dimension equal to applying the loads sequentially."""
    _land_scd1_drops(tmp_path)
    q, target = _start_scd1_sink(spark, tmp_path)
    q.awaitTermination(120)
    assert _dimension(spark, target) == _SCD1_DIMENSION


def test_foreachbatch_scd1_failed_swap_keeps_dimension(spark, tmp_path, monkeypatch):
    """A batch that dies between retiring the old dimension and moving
    the new one in must not cost the dimension: the restarted query
    restores it and re-applies the batch on top of it instead of
    re-seeding the dimension from that one batch."""
    move = shutil.move
    failed = []

    def move_failing_once(src, dst, *a, **k):
        if str(src).endswith(".batch-1") and not failed:
            failed.append(src)
            raise OSError("injected failure moving the new dimension")
        return move(src, dst, *a, **k)

    monkeypatch.setattr(shutil, "move", move_failing_once)
    _land_scd1_drops(tmp_path)
    q, target = _start_scd1_sink(spark, tmp_path)
    with pytest.raises(StreamingQueryException, match="injected"):
        q.awaitTermination(120)
    assert failed

    q, target = _start_scd1_sink(spark, tmp_path)  # restart from the checkpoint
    q.awaitTermination(120)
    assert _dimension(spark, target) == _SCD1_DIMENSION


def test_stream_stream_interval_join_equals_batch(spark):
    """Watermarked stream-stream inner join with a time-range condition
    must emit exactly the batch join's matches (inner joins emit matches
    eagerly; the watermark only bounds state)."""
    ev = events_stream(spark, SF_DIR, "ssjoin_test")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = s.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts > s_ts AND p_ts <= s_ts + INTERVAL 1 HOUR"
        ),
    ).select("signup_id", "p_id")
    got = {tuple(r) for r in run_bounded(joined, "append", "ssjoin_test").collect()}

    ev = load_table(spark, SF_DIR, "events")
    bs = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts")
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    want = {
        tuple(r)
        for r in bs.join(
            bp,
            (bs.user_id == bp.p_user)
            & (bp.p_ts > bs.s_ts)
            & (bp.p_ts <= bs.s_ts + F.expr("INTERVAL 1 HOUR")),
        ).select("signup_id", "p_id").collect()
    }
    assert got == want


def _one_event_partials(events):
    """Raw events as the stateful operator's ``(user_id, n, v)`` partials."""
    return events.select(
        "user_id", F.lit(1).cast("long").alias("n"), F.col("value").alias("v")
    )


def test_custom_stateful_totals_equal_batch(spark, tmp_path):
    """applyInPandasWithState across two micro-batches must equal the
    batch aggregate (state genuinely carries across batches); raw events
    feed the operator as one-event partials."""
    from gcp_de_data_pipeline_cc_spark.streaming.stateful import (
        running_user_totals_from_partials,
    )

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "src")
    raw.repartition(2).write.parquet(src)

    sdf = spark.readStream.schema(raw.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    totals = running_user_totals_from_partials(_one_event_partials(sdf))
    got = {
        r.user_id: (r.n_events, r.value_sum)
        for r in run_bounded(totals, "update", "stateful_test")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            # final emission per key: value_sum paired with its own
            # n_events (max alone would mismatch if value_sum is
            # non-monotone under negative values)
            F.max_by("value_sum", "n_events").alias("value_sum"),
        )
        .collect()
    }
    want = {
        r.user_id: (r.n, round(r.v, 2))
        for r in raw.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 0.05


def test_streaming_dedup_within_watermark(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_landing(tmp_path, "dup.csv", [1, 1, 2, 2, 2, 3])
    stream = landing_stream(spark, landing, EMPLOYEE_COLUMNS)
    stream = stream.withColumn("ts", F.current_timestamp())
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["emp_id"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = ingest_available_now(deduped, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_custom_stateful_state_store_survives_kill_and_restart(
    spark, tmp_path
):
    """Adversarial STATE-STORE recovery (r6 verdict #7): kill a
    checkpointed applyInPandasWithState query mid-drain and restart it
    from the same checkpoint — the recovered keyed state must carry
    the pre-kill running totals forward, so the final per-user totals
    reconstructed from the two runs' update outputs equal the batch
    aggregate exactly (a lost/reset store would undercount every user
    touched before the kill; foreachBatch writes each epoch to
    batch=<id> with overwrite, so a replayed epoch is idempotent and
    duplicates cannot mask the loss)."""
    import time as _t

    from gcp_de_data_pipeline_cc_spark.streaming.stateful import (
        running_user_totals_from_partials,
    )

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "value")
    )
    # many small files -> many micro-batches, so the kill lands between
    # state commits
    raw.repartition(12).write.mode("overwrite").parquet(src_dir)

    def start():
        sdf = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )

        def sink(df, batch_id):
            df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            return (
                running_user_totals_from_partials(_one_event_partials(sdf))
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    q = start()
    deadline = _t.time() + 120
    while _t.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _t.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    import glob as _glob

    n_batches_first = len(_glob.glob(f"{out}/batch=*"))
    assert 0 < n_batches_first < 12, "kill must land mid-drain"

    q = start()
    q.awaitTermination(120)
    assert len(_glob.glob(f"{out}/batch=*")) > n_batches_first

    # reconstruct the final state from the update stream: latest row
    # per user = the one with the highest (monotone) event count
    mem = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    final = (
        mem.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("value_sum", "n_events").alias("value_sum"),
        )
    )
    expect = raw.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    got = {
        r["user_id"]: (r["n_events"], r["value_sum"])
        for r in final.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], float(r["value_sum"]))
        for r in expect.collect()
    }
    assert set(got) == set(want)
    for uid, (n, v) in want.items():
        assert got[uid][0] == n, f"user {uid}: state lost across restart"
        assert abs(got[uid][1] - v) < 0.02, f"user {uid}: value drift"


def test_overrunning_stream_key_stops_its_query_and_raises(spark, monkeypatch):
    """A stream key whose availableNow query is still running at the
    drain timeout raises instead of returning a partial result, and
    leaves no active query to block the next run's start."""
    from pyspark.sql.streaming import StreamingQuery

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    try:
        with pytest.raises(TimeoutError):
            REGISTRY["stream_topk"].spark(spark, SF_DIR)
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()


def test_stream_keys_register_no_table_and_stop_their_query(spark):
    """Stream keys drain into scratch parquet, not into a driver-memory
    table: building one adds nothing to the catalog and leaves no query
    running."""
    before = {t.name for t in spark.catalog.listTables()}
    for key in ("stream_topk", "stream_static_enrich"):
        REGISTRY[key].spark(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == before
    assert spark.streams.active == []


#: Spark jobs outside the stream's own micro-batches while
#: stream_static_enrich builds from cold session schemas (3 of them infer
#: the events, customer and nation schemas); the stream reads the copy it
#: writes with the schema already known, and its output is read back the
#: same way
_ENRICH_BUILD_JOBS = 5


def test_stream_static_enrich_build_jobs(spark):
    catalog.clear()  # cold schemas, whichever tests ran before
    sc = spark.sparkContext
    group = "test_stream_static_enrich_build_jobs"
    sc.setJobGroup(group, "stream_static_enrich build budget")
    try:
        REGISTRY["stream_static_enrich"].spark(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == _ENRICH_BUILD_JOBS
