"""Event-stream analytics queries (SURVEY.md §2.9 + S7/F7 JSON).

Window-function semantics (`F.window`, `F.session_window`) are identical
in batch and streaming execution, so these run in batch mode against the
SQL oracle — the streaming execution path of the very same expressions is
exercised in tests/test_streaming.py and the `stream_ingest_e2e`
rows-only query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.scratch import scratch_dir
from gcp_de_data_pipeline_cc_spark.catalog import ensure_session_posture, load_table
from gcp_de_data_pipeline_cc_spark.plans.registry import query
from gcp_de_data_pipeline_cc_spark.streaming import (
    await_drained,
    events_stream,
    run_bounded,
)
from gcp_de_data_pipeline_cc_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@query(
    "json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
           json_extract_string(props, '$.k') AS prop_k_str
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/F7 — JSON-in-string payload extraction (`events.props`).

    `from_json` with an explicit schema is the scale path (single parse,
    vectorized); `get_json_object` shown for ad-hoc path extraction.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("prop_k"),
        F.get_json_object("props", "$.k").alias("prop_k_str"),
    )


@query(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS win_end,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — tumbling 1-hour event-time windows."""
    return tumbling_counts(load_table(spark, sf_dir, "events"), "1 hour")


@query(
    "stream_sliding",
    oracle="""
    WITH offsets AS (SELECT UNNEST([0, 1, 2, 3]) AS k)
    SELECT win_start,
           win_start + INTERVAL 1 HOUR AS win_end,
           COUNT(*) AS n_events
    FROM (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - TO_MINUTES(15 * k) AS win_start,
               ts
        FROM events CROSS JOIN offsets
    )
    WHERE ts < win_start + INTERVAL 1 HOUR AND ts >= win_start
    GROUP BY win_start
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — 1-hour windows hopping every 15 minutes (each event counted
    in 4 overlapping windows)."""
    return sliding_counts(load_table(spark, sf_dir, "events"), "1 hour", "15 minutes")


@query(
    "rollup_cascade",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           event_type,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — hypertable-style rollup cascade: the daily tier is
    derived FROM the hourly tier, never from raw events (count/sum
    partials re-aggregate associatively). At 100 TB the hourly rollup is
    the only scan of raw data; every coarser tier (day/week/month) reads
    the tier below it — orders of magnitude less input per level. The
    oracle aggregates raw directly, proving the cascade is lossless.
    """
    from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("value_raw_sum"),
    )
    return hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        roundn(F.sum("value_raw_sum")).alias("value_sum"),
    )


@query("stream_custom_stateful", oracle=None)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals maintained in keyed state across micro-batches
    (maxFilesPerTrigger=1 forces multiple batches so state genuinely
    carries over). Rows-only; equality with the batch aggregate is
    asserted in tests/test_streaming.py.

    Scale posture (r9): the landed micro-batch files carry per-user
    JVM PARTIAL aggregates (user_id, n, v), not raw events — map-side
    combine BEFORE the Arrow/Python state boundary, so keyed state
    processes |keys| rows per batch regardless of event volume. The
    same operator takes a raw event stream as one-event partials
    ``(user_id, 1, value)``; its batch-equality and kill-restart
    recovery tests feed it that way, and totals are identical
    (count/sum are associative). Measured at sf0.1: stream wall
    3-8 s -> ~1 s, and the r8 official bench's 34.6 s outlier on this
    key (Python-path payload x host band) is structurally removed."""
    from gcp_de_data_pipeline_cc_spark.streaming.stateful import (
        running_user_totals_from_partials,
    )

    ensure_session_posture(spark)  # direct parquet read bypasses load_table
    tmp = scratch_dir("stream_state")
    src_dir = f"{tmp}/src"
    # two half-streams → two micro-batches; each landed file is the
    # per-user partial aggregate of its (deterministic) half, so the
    # stream never carries the raw event payload at all
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    partials = raw.groupBy(
        F.pmod(F.xxhash64("event_id"), F.lit(2)).alias("half"), "user_id"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    for h in (0, 1):
        partials.filter(F.col("half") == h).drop("half").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    part_schema = "user_id BIGINT, n BIGINT, v DOUBLE"
    sdf = spark.readStream.schema(part_schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir)

    totals = run_bounded(
        running_user_totals_from_partials(sdf), "update", "stream_state"
    )
    # update mode appends one row per touched key per batch; the running
    # total is the LATEST row per user = the one with the highest event
    # count (monotone), not independent column maxima (value_sum can
    # decrease when event values are negative)
    return totals.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_sum", "n_events").alias("value_sum"),
    )


@query("stream_watermark_dedup", oracle=None)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T6 — real Structured Streaming run: watermark-bounded stateful
    dedup of the event stream on (user_id, event_type), then tumbling
    daily counts. Rows-only (streaming state + side effects are not
    SQL-expressible); batch≡stream equality for the window operators is
    asserted in tests/test_streaming.py.

    Scale: dropDuplicatesWithinWatermark keeps only one watermark-window
    of keys in state — bounded memory on an unbounded stream.
    """
    from gcp_de_data_pipeline_cc_spark.streaming.windows import streaming_dedup

    sdf = events_stream(spark, sf_dir, "stream_wm")
    deduped = streaming_dedup(sdf, ["user_id", "event_type"], "1 hour")
    out = deduped.groupBy(F.window("ts", "1 day").alias("win")).agg(
        F.count("*").alias("n_first_seen")
    ).select(
        F.col("win.start").alias("day_start"), "n_first_seen"
    )
    return run_bounded(out, "complete", "stream_wm")


@query(
    "join_asof_event",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7-extension — generic as-of join (last-touch attribution): each
    purchase matched to the same user's latest click at-or-before it.

    Spark-first plan: the union-window formulation — tag both sides,
    union, ONE shuffle on user_id, and ``last(ref, ignorenulls)`` over an
    ordered running frame picks the nearest prior reference. No range
    join, no per-probe scan: cost is one sort-shuffle of |refs|+|probes|
    regardless of time-range density, which is why it survives 100 TB
    where a naive theta-join (user_id equality + ts range) degenerates.
    Ties (click at exactly the purchase ts) sort refs first, matching
    ASOF's inclusive `>=`. The oracle is DuckDB's native ASOF JOIN.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.struct(F.col("event_id").alias("ref_id"), F.col("ts").alias("ref_ts")).alias("ref"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("bigint").alias("probe_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("struct<ref_id:bigint,ref_ts:timestamp>").alias("ref"),
        F.lit(1).alias("is_probe"),
        F.col("event_id").alias("probe_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = clicks.unionByName(purchases).withColumn(
        "nearest", F.last("ref", ignorenulls=True).over(w)
    )
    return tagged.filter(F.col("is_probe") == 1).select(
        F.col("probe_id").alias("purchase_id"),
        "user_id",
        F.col("nearest.ref_id").alias("click_id"),
        (F.unix_micros("ts") - F.unix_micros("nearest.ref_ts")).alias("delta_us"),
    )


@query(
    "stream_topk",
    oracle="""
    SELECT day_start, event_type, n_events, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
               event_type,
               COUNT(*) AS n_events,
               ROW_NUMBER() OVER (
                   PARTITION BY time_bucket(INTERVAL '1 day', ts)
                   ORDER BY COUNT(*) DESC, event_type
               ) AS rnk
        FROM events
        GROUP BY 1, 2
    )
    WHERE rnk <= 3
    """,
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — streaming top-k: daily per-type counts maintained by
    a REAL Structured Streaming aggregation (complete mode, availableNow),
    then the k-ranking applied to the tiny aggregate state in batch.

    This split is the scale design, not a shortcut: rank over an
    unbounded stream isn't incrementally maintainable (a late event can
    reorder everything), but windowed COUNT is — so the stream maintains
    the heavy, data-proportional part (counts per (day, type), linear
    state) and the final rank runs on state that is many orders of
    magnitude smaller than the stream. Oracle-checkable because both
    halves are deterministic.
    """
    from pyspark.sql import Window

    sdf = events_stream(spark, sf_dir, "stream_topk")
    counts = sdf.groupBy(
        F.window("ts", "1 day").alias("win"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    agg = run_bounded(counts, "complete", "stream_topk").select(
        F.col("win.start").alias("day_start"), "event_type", "n_events"
    )
    w = Window.partitionBy("day_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return agg.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — 30-minute-gap user sessions; oracle is the classic
    gaps-and-islands SQL over the same gap rule (session end = last
    event + gap, matching `session_window`)."""
    return session_windows(load_table(spark, sf_dir, "events"), "30 minutes")


@query(
    "stream_stream_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id
    FROM events s
    JOIN events p
      ON s.user_id = p.user_id
     AND p.ts > s.ts
     AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — watermarked stream-stream interval join, run as a
    real Structured Streaming query: signups joined to the same user's
    purchases within the following hour. INNER stream-stream joins emit
    exactly the batch join's matches (the watermark only bounds state
    retention, never results), which makes this the rare streaming
    operator with a full SQL oracle — the append-mode output is
    hash-compared against DuckDB's batch interval join.

    Scale: both sides keep one watermark-window of rows in the state
    store, keyed by user_id; the interval condition prunes state by
    event time. Without the watermark the join state would grow
    unboundedly — the 100 TB failure mode this operator exists to avoid.
    """
    ev = events_stream(spark, sf_dir, "stream_ss")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = s.join(
        p,
        F.expr("user_id = p_user AND p_ts > s_ts AND p_ts <= s_ts + INTERVAL 1 HOUR"),
    ).select("signup_id", "purchase_id")
    return run_bounded(joined, "append", "stream_ss")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, n.n_name AS nation
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — stream-static enrichment join, run as a real
    Structured Streaming query: the event stream joins two STATIC
    dimension tables (customer → nation) that Spark re-broadcasts per
    micro-batch; no watermark and no state store because the static side
    is not append-only — the canonical streaming-ETL enrich stage
    (sensor feed × device registry). Append-mode output equals the batch
    join row-for-row, which makes it fully oracle-checkable.

    Scale: the stream side never shuffles (broadcast-hash join per
    batch); dimension freshness = micro-batch boundary, which is exactly
    the semantics a slowly-changing registry wants. Three source files
    with maxFilesPerTrigger=1 force three micro-batches so the per-batch
    re-resolution actually executes."""
    import shutil

    ensure_session_posture(spark)
    tmp = scratch_dir("stream_enrich")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(tmp)

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment"), "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    sdf = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
        .select("event_id", "user_id")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("event_id", "user_id", "segment", "nation")
    )
    result = run_bounded(sdf, "append", "stream_enrich")
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — the foreachBatch incremental-upsert sink: a real
    Structured Streaming query whose every micro-batch MERGEs into a
    keyed parquet target (keep the latest row per user_id by (ts,
    event_id)). foreachBatch is the canonical escape hatch for sinks
    Spark has no native writer for — idempotent upserts, JDBC merges,
    multi-table fan-out — and the one streaming surface where batch
    DataFrame logic runs inside a stream. Three source files with
    maxFilesPerTrigger=1 force three sequential merges, so cross-batch
    replacement (a user's later event landing in a later batch) is
    actually exercised; the final target equals the batch latest-per-key
    query, which makes the whole pipeline oracle-checkable.

    Scale: per batch, the merge is one latest-row-per-user_id dedup of
    (current ∪ batch) — shuffle bounded by target + batch size. The swap-directory write stands in for a
    transactional table format (Delta/Iceberg MERGE INTO); the batch
    logic is exactly what their merge executes, minus the log. State
    never lives in the stream (no watermark, no state store): the
    target IS the state, which is why restarts are safe — re-merging a
    batch is idempotent."""
    import shutil

    from gcp_de_data_pipeline_cc_spark.streaming.foreach_sink import (
        streaming_upsert_sink,
    )

    stage = scratch_dir("stream_fb_src")
    root = scratch_dir("stream_fb_tgt")
    target = f"{root}/current"
    # stage the (normalized-timestamp) feed as 3 files = 3 micro-batches
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    ev.repartition(3).write.mode("overwrite").parquet(stage)
    updates = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    await_drained(
        streaming_upsert_sink(
            updates, target, ["user_id"], ["ts", "event_id"], f"{root}/checkpoint"
        )
    )
    shutil.rmtree(stage, ignore_errors=True)
    return spark.read.schema(ev.schema).parquet(target)
