"""SQL-surface wave 8: timezone-shift functions and business-day
arithmetic.

- **fn_datetime_tz** — the `from_utc_timestamp`/`to_utc_timestamp`
  surface every multi-region warehouse needs for local-time reporting.
  Pinned to a FIXED offset (+05:30) rather than a named zone: named
  zones pull in tzdata, and two engines with different tzdata releases
  silently disagree around DST transitions — a reproducibility bug, not
  a feature. The oracle is plain interval arithmetic, so the Spark tz
  functions are checked against an engine-independent definition;
- **fn_business_days** — order→ship SLA in BUSINESS days. Uses the
  closed form f(d) = 5·⌊u/7⌋ + min(u mod 7, 5) with u = days since a
  known Monday, so the count is exact integer arithmetic on both
  engines — no per-day explode, no weekday CASE ladder.

Reference parity: the reference's curation tier stamps partition dates
and SLAs around a UTC DAG schedule (dags/pipeline_orchestration_dag.py
schedule_interval, :101-143); these are the reporting-side functions of
that contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import (
    ensure_session_posture,
    fan_out,
    load_table,
)
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: fixed reporting offset (IST) — half-hour offsets catch the bugs
#: whole-hour test values miss
_TZ = "+05:30"

#: 1994-12-26 was a Monday STRICTLY BEFORE every fixture date — u must
#: stay non-negative because floor-division and modulo semantics on
#: negative operands differ between engines (Spark % keeps the dividend
#: sign; DuckDB // truncates where floor() floors)
_MONDAY_EPOCH = "1994-12-26"


@query(
    "fn_datetime_tz",
    oracle="""
    WITH shifted AS (
        SELECT event_id, ts,
               ts + INTERVAL 5 HOUR + INTERVAL 30 MINUTE AS local_ts
        FROM events)
    SELECT event_id, ts, local_ts,
           CAST(EXTRACT(hour FROM local_ts) AS INT) AS local_hour,
           CAST(DATE_TRUNC('day', local_ts) AS TIMESTAMP) AS local_day,
           (CAST(DATE_TRUNC('day', local_ts) AS DATE)
            <> CAST(DATE_TRUNC('day', ts) AS DATE)) AS day_rolled,
           (local_ts - INTERVAL 5 HOUR - INTERVAL 30 MINUTE = ts)
               AS roundtrip_ok
    FROM shifted
    """,
)
def fn_datetime_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-extension — timezone-shift reporting: project every event into
    a fixed +05:30 reporting zone via ``from_utc_timestamp``, extract
    the local hour and local day, flag events whose local calendar day
    differs from the UTC day (the daily-rollup boundary hazard), and
    prove ``to_utc_timestamp`` inverts the shift. The oracle computes
    the same columns with bare interval arithmetic, so Spark's tz
    functions are validated against an engine-independent definition
    instead of a second tzdata copy.

    100 TB: narrow per-row codegen — the shift is arithmetic, no
    shuffle, no UDF; day_rolled feeds partition-assignment audits when
    a feed lands in local time but the lake partitions in UTC.
    """
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), _TZ)
    return ev.select(
        "event_id",
        "ts",
        local.alias("local_ts"),
        F.hour(local).cast("int").alias("local_hour"),
        F.date_trunc("day", local).cast("timestamp").alias("local_day"),
        (
            F.to_date(F.date_trunc("day", local))
            != F.to_date(F.date_trunc("day", F.col("ts")))
        ).alias("day_rolled"),
        (
            F.to_utc_timestamp(local, _TZ) == F.col("ts")
        ).alias("roundtrip_ok"),
    )


def _bd_sql(date_expr: str) -> str:
    """Business days from the Monday epoch through ``date_expr`` (SQL)."""
    u = f"DATE_DIFF('day', DATE '{_MONDAY_EPOCH}', {date_expr})"
    return f"(5 * (({u}) // 7) + LEAST(({u}) % 7, 5))"


@query(
    "fn_business_days",
    oracle=f"""
    WITH sla AS (
        SELECT {_bd_sql("CAST(l.l_shipdate AS DATE)")}
               - {_bd_sql("CAST(o.o_orderdate AS DATE)")} AS bdays
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT CASE WHEN bdays <= 20 THEN 'fast'
                WHEN bdays <= 60 THEN 'standard'
                ELSE 'slow' END AS sla_band,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(MIN(bdays) AS BIGINT) AS min_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays,
           {sql_roundn("AVG(bdays * 1.0e0)", 4)} AS avg_bdays
    FROM sla
    GROUP BY 1
    """,
)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-extension — order→ship SLA in business days, banded: the
    Mon–Fri day count between order date and ship date via the closed
    form ``f(d) = 5·⌊u/7⌋ + min(u mod 7, 5)`` (u = days since a known
    Monday; f(d) = business days in [epoch, d)), so bd(d1,d2) =
    f(d2) − f(d1) counts business days in [d1, d2) — the order day
    counts when it's a weekday, the ship day doesn't — as exact
    integer arithmetic: no calendar explode, no weekday CASE ladder,
    and the convention is pinned by a brute-force law test
    (tests/test_wave_r3d.py).

    100 TB: the fact-fact join shuffles on orderkey (both sides
    pre-partitionable / bucketable on it — join_bucketed shows the
    co-located layout); the SLA math is scan-side codegen and the band
    rollup map-side combines to three rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def bd(col: F.Column) -> F.Column:
        u = F.datediff(F.to_date(col), F.lit(_MONDAY_EPOCH).cast("date"))
        return 5 * F.floor(u / 7).cast("long") + F.least(
            u % 7, F.lit(5)
        ).cast("long")

    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (bd(F.col("l_shipdate")) - bd(F.col("o_orderdate"))).alias("bdays")
    )
    band = (
        F.when(F.col("bdays") <= 20, "fast")
        .when(F.col("bdays") <= 60, "standard")
        .otherwise("slow")
    )
    return joined.groupBy(band.alias("sla_band")).agg(
        F.count("*").alias("n_lineitems"),
        F.min("bdays").cast("long").alias("min_bdays"),
        F.max("bdays").cast("long").alias("max_bdays"),
        roundn(F.avg(F.col("bdays") * F.lit(1.0)), 4).alias("avg_bdays"),
    )


#: nearest-join tolerance: candidates farther than this are not matches
_NEAREST_TOL_H = 24


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase'),
    c AS (
        SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
        WHERE event_type = 'click'),
    cand AS (
        SELECT p.p_id, p.user_id, p.p_ts, c.c_id,
               epoch_us(c.c_ts) - epoch_us(p.p_ts) AS gap_us,
               ROW_NUMBER() OVER (
                   PARTITION BY p.p_id
                   ORDER BY ABS(epoch_us(c.c_ts) - epoch_us(p.p_ts)),
                            c.c_ts, c.c_id) AS rnk
        FROM p JOIN c ON p.user_id = c.user_id
         AND ABS(epoch_us(c.c_ts) - epoch_us(p.p_ts))
             <= CAST({_NEAREST_TOL_H} AS BIGINT) * 3600 * 1000000)
    SELECT p.p_id AS purchase_id, p.user_id,
           cand.c_id AS click_id,
           CAST(cand.gap_us AS BIGINT) AS gap_us,
           CASE WHEN cand.c_id IS NULL THEN 'none'
                WHEN cand.gap_us <= 0 THEN 'before'
                ELSE 'after' END AS direction
    FROM p LEFT JOIN (SELECT * FROM cand WHERE rnk = 1) cand
      USING (p_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7-completion — NEAREST-direction as-of join: each purchase
    matches the click by the same user closest in time in EITHER
    direction, within a 24 h tolerance; unmatched purchases survive
    with direction 'none'. Backward as-of (join_asof_event) answers
    "what state preceded this?"; forward (join_asof_forward) "what
    followed?"; nearest is the entity-resolution flavor — "which
    interaction does this belong to?" — and completes the family.
    Deterministic pick: (|gap|, ts, event_id) — an equidistant
    before/after pair resolves to the earlier click.

    100 TB: candidates join on user_id with the tolerance band bounding
    each purchase's candidates to its ±24 h click neighborhood — work
    is Σ|purchases_u|·|clicks_u∩window|, never |P|×|C|; the pick is
    WindowGroupLimit-shaped (rank 1 per purchase) during the same
    shuffle, and the final LEFT join re-attaches the no-candidate
    purchases. A DuckDB ASOF JOIN can't express 'nearest either way' —
    the oracle runs the same explicit formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    gap = F.unix_micros("c_ts") - F.unix_micros("p_ts")
    tol_us = _NEAREST_TOL_H * 3600 * 1_000_000
    cand = (
        p.join(
            c,
            (p.user_id == c.c_user) & (F.abs(gap) <= tol_us),
        )
        .select("p_id", "user_id", "p_ts", "c_id", "c_ts", gap.alias("gap_us"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("p_id").orderBy(
                    F.abs(F.col("gap_us")), "c_ts", "c_id"
                )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("p_id", "c_id", "gap_us")
    )
    out = p.join(cand, "p_id", "left")
    return out.select(
        F.col("p_id").alias("purchase_id"),
        "user_id",
        F.col("c_id").alias("click_id"),
        F.col("gap_us").cast("long").alias("gap_us"),
        F.when(F.col("c_id").isNull(), "none")
        .when(F.col("gap_us") <= 0, "before")
        .otherwise("after")
        .alias("direction"),
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (l_suppkey, l_tax, l_linestatus)
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface — star-except projection: ``SELECT * EXCEPT (cols)``
    (Spark 4) vs DuckDB's ``* EXCLUDE (cols)`` — same semantics, a
    keyword apart, which is exactly the dialect mapping a migrating
    user needs written down. The everyday use: project a wide fact
    minus its bulky/irrelevant columns without enumerating the dozens
    you keep (and without the maintenance hazard of a stale explicit
    list when the table evolves).

    100 TB: the analyzer expands the star minus the exclusions BEFORE
    optimization, so column pruning reaches the parquet scan — the
    excluded columns are never read (ReadSchema-pinned beside the
    other pushdown tests). Remaining column order is the table's.
    """
    ensure_session_posture(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_star_except"
    )
    return spark.sql(
        """
        SELECT * EXCEPT (l_suppkey, l_tax, l_linestatus)
        FROM li_star_except
        WHERE l_quantity >= 45
        """
    )


@query(
    "fn_surrogate_key",
    oracle="""
    WITH keyed AS (
        SELECT l_orderkey, l_linenumber,
               md5(COALESCE(CAST(l_orderkey AS VARCHAR), '_null_')
                   || '-' ||
                   COALESCE(CAST(l_linenumber AS VARCHAR), '_null_'))
                   AS sk
        FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_keys,
           MIN(sk) AS min_key,
           MAX(sk) AS max_key,
           (COUNT(DISTINCT sk) =
            COUNT(DISTINCT CAST(l_orderkey AS VARCHAR) || '-' ||
                  CAST(l_linenumber AS VARCHAR))) AS injective_on_input
    FROM keyed
    """,
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-extension — surrogate-key minting, the dbt
    ``generate_surrogate_key`` pattern: hash the null-safe,
    separator-joined natural key into a stable 128-bit id. The
    separator and the explicit null sentinel are the load-bearing
    details — ``concat(a, b)`` without them makes ('ab', 'c') and
    ('a', 'bc') collide, and NULL concat swallows whole keys; both are
    classic silent-corruption bugs in hand-rolled key macros. The
    audit output reports key cardinality vs input cardinality
    (injectivity on this dataset) plus the key range endpoints.

    100 TB: the hash is scan-side codegen; the audit's COUNT DISTINCT
    is the only shuffle (pruned to the key columns). Minting itself is
    embarrassingly parallel and deterministic — the same natural key
    mints the same surrogate on any engine, any run, any cluster,
    which is the whole point vs monotonically_increasing_id (stable
    across reruns, mergeable across backfills).
    """
    li = load_table(spark, sf_dir, "lineitem")

    def nullsafe(c: str) -> F.Column:
        return F.coalesce(F.col(c).cast("string"), F.lit("_null_"))

    sk = F.md5(
        F.concat_ws("-", nullsafe("l_orderkey"), nullsafe("l_linenumber"))
    )
    nat = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    keyed = li.select(sk.alias("sk"), nat.alias("nat"))
    # ONE distinct pass over (sk, nat) serves every audit number: two
    # independent COUNT DISTINCTs would expand-shuffle the fact twice
    # (measured 4.3 s vs 2.3 s at sf0.1). n_keys = groups of sk;
    # injectivity = no sk maps to two nats (collisions surface as
    # max_nats_per_key > 1, a stronger check than count equality).
    per_key = (
        keyed.distinct()
        .groupBy("sk")
        .agg(F.count("*").alias("n_nats"))
    )
    audit = per_key.agg(
        F.count("*").alias("n_keys"),
        F.min("sk").alias("min_key"),
        F.max("sk").alias("max_key"),
        (F.max("n_nats") == 1).alias("injective_on_input"),
    )
    n_rows = li.agg(F.count("*").alias("n_rows"))
    return n_rows.crossJoin(F.broadcast(audit)).select(
        "n_rows", "n_keys", "min_key", "max_key", "injective_on_input"
    )


@query(
    "sla_lag_percentiles",
    oracle=f"""
    WITH lag AS (
        SELECT o.o_orderpriority AS priority,
               DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS lag_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           {sql_roundn("quantile_cont(lag_days, 0.5)", 4)} AS p50_days,
           {sql_roundn("quantile_cont(lag_days, 0.9)", 4)} AS p90_days,
           {sql_roundn("quantile_cont(lag_days, 0.99)", 4)} AS p99_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_days
    FROM lag GROUP BY priority
    """,
)
def sla_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension — the SLA percentile report: order→ship lag
    distribution tails (exact p50/p90/p99, max) per order priority.
    fn_business_days bands the mean story; operations actually watch
    the TAIL — a p99 that doubles while the median holds is a queueing
    problem, not a throughput problem, and only percentiles see it.

    100 TB: the fact-fact orderkey join (bucketable, as
    fn_business_days); exact percentiles re-shuffle per-priority lag
    lists — five groups, so the skew bound is the largest priority's
    row count; the approx_percentile swap (agg_percentile_approx's ±ε
    envelope) is the documented fast path when that bound breaks.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lag_days"
        ),
    )
    return lag.groupBy("priority").agg(
        F.count("*").alias("n_lineitems"),
        roundn(F.percentile("lag_days", F.lit(0.5)), 4).alias("p50_days"),
        roundn(F.percentile("lag_days", F.lit(0.9)), 4).alias("p90_days"),
        roundn(F.percentile("lag_days", F.lit(0.99)), 4).alias("p99_days"),
        F.max("lag_days").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# portable Soundex phonetic blocking (r3m wave)
# ---------------------------------------------------------------------------

_SOUNDEX_CASE = (
    "CASE WHEN c IN ('b','f','p','v') THEN '1' "
    "WHEN c IN ('c','g','j','k','q','s','x','z') THEN '2' "
    "WHEN c IN ('d','t') THEN '3' "
    "WHEN c = 'l' THEN '4' "
    "WHEN c IN ('m','n') THEN '5' "
    "WHEN c = 'r' THEN '6' ELSE '0' END"
)


@query(
    "fn_soundex_portable",
    oracle=f"""
    WITH w AS (
        SELECT string_split(p_name, ' ')[1] AS word,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1),
    codes AS (
        SELECT word, n_parts,
               list_transform(string_split(word, ''),
                              c -> {_SOUNDEX_CASE}) AS cl
        FROM w),
    dedup AS (
        SELECT word, n_parts,
               list_reduce(
                   list_prepend([cl[1]], list_transform(
                       list_slice(cl, 2, len(cl)), x -> [x])),
                   (acc, e) -> CASE WHEN e[1] = acc[len(acc)]
                                    THEN acc
                                    ELSE list_append(acc, e[1]) END) AS dl
        FROM codes),
    coded AS (
        SELECT word, n_parts,
               upper(substr(word, 1, 1)) ||
               rpad(substr(replace(
                   array_to_string(list_slice(dl, 2, len(dl)), ''),
                   '0', ''), 1, 3), 3, '0') AS soundex
        FROM dedup)
    SELECT soundex,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_parts) AS BIGINT) AS n_parts,
           string_agg(word, ',' ORDER BY word) AS words
    FROM coded GROUP BY soundex
    ORDER BY soundex
    """,
)
def fn_soundex_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-extension — Soundex phonetic codes implemented PORTABLY (digit
    map → adjacent-duplicate collapse via a list-accumulator fold →
    drop zeros → pad to 3), grouped into blocking buckets over the part
    vocabulary — the phonetic half of the fuzzy-matching pair with
    fn_levenshtein (block on sound, verify on edit distance).

    Hand-rolled on BOTH engines rather than calling Spark's builtin:
    the builtin lives only in the JVM, and the classic h/w adjacency
    exception varies between implementations — this definition codes
    h/w as separators (like vowels), the common simplified variant; a
    test asserts agreement with Spark's builtin across this vocabulary.
    The fold uses a LIST accumulator — the DuckDB struct-accumulator
    mutation hazard (ts_holt) applies to any sequential state.

    100 TB: per-row array arithmetic in codegen, one grouped
    aggregate on the code; vocabulary-sized output. Blocking quality:
    candidate pairs are Σ|bucket|² like every blocking scheme."""
    part = load_table(spark, sf_dir, "part")
    w = (
        part.select(
            F.element_at(F.split("p_name", " "), 1).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n_parts"))
    )
    cl = F.expr("transform(split(word, ''), c -> " + _SOUNDEX_CASE + ")")
    codes = w.select("word", "n_parts", cl.alias("cl"))
    dedup = codes.select(
        "word",
        "n_parts",
        F.aggregate(
            F.slice(F.col("cl"), 2, F.size("cl") - 1),
            F.slice(F.col("cl"), 1, 1),
            lambda acc, x: F.when(
                F.element_at(acc, -1) == x, acc
            ).otherwise(F.concat(acc, F.array(x))),
        ).alias("dl"),
    )
    digits = F.rpad(
        F.substring(
            F.regexp_replace(
                F.array_join(
                    F.slice(F.col("dl"), 2, F.size("dl") - 1), ""
                ),
                "0",
                "",
            ),
            1,
            3,
        ),
        3,
        "0",
    )
    coded = dedup.select(
        "word",
        "n_parts",
        F.concat(
            F.upper(F.substring(F.col("word"), 1, 1)), digits
        ).alias("soundex"),
    )
    return (
        coded.groupBy("soundex")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_parts").cast("long").alias("n_parts"),
            F.array_join(F.array_sort(F.collect_list("word")), ",").alias(
                "words"
            ),
        )
        .orderBy("soundex")
    )


# ---------------------------------------------------------------------------
# ORDER BY ALL (r4d wave)
# ---------------------------------------------------------------------------

_OBA_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@query("sql_order_by_all", oracle=_OBA_SQL)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-dialect — ORDER BY ALL (+ GROUP BY ALL together): the
    DuckDB-originated shorthand Spark 4 adopted — sort by every select
    column left to right, which makes aggregate readouts deterministic
    without enumerating columns (exactly the property the driver's
    hash compare needs). Completes the ALL-shorthand pair begun by
    sql_group_by_all. The IDENTICAL SQL text runs on both engines.

    100 TB: a grouped aggregate plus a total sort of the (tiny) result
    — ordering semantics, not a scale pattern."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW orders AS "
        f"SELECT * FROM parquet.`{sf_dir}/orders.parquet`"
    )
    return spark.sql(_OBA_SQL)


# ---------------------------------------------------------------------------
# IPv4 / CIDR network analytics (r4 wave)
# ---------------------------------------------------------------------------

#: synthetic-but-deterministic client IPs: Knuth multiplicative hash of
#: the event id into 32 bits — identical integer expression both engines
_IP_HASH = "(event_id * 2654435761) % 4294967296"

#: the monitored CIDR blocks (an inline VALUES dim — sql_values_inline):
#: (name, network octets as int, prefix length)
_CIDRS = [
    ("corp-10/8", 10 * 16777216, 8),
    ("lan-192.168/16", 192 * 16777216 + 168 * 65536, 16),
    ("cgnat-100.64/10", 100 * 16777216 + 64 * 65536, 10),
    ("test-198.51.100/24", 198 * 16777216 + 51 * 65536 + 100 * 256, 24),
]


def _ip_oracle() -> str:
    cidr_values = ", ".join(
        f"('{n}', CAST({net} AS BIGINT), {p})" for n, net, p in _CIDRS
    )
    return f"""
    WITH ev AS (
        SELECT event_id, user_id, CAST({_IP_HASH} AS BIGINT) AS ip_int
        FROM events),
    ips AS (
        SELECT event_id, user_id, ip_int,
               CAST(ip_int // 16777216 AS VARCHAR) || '.' ||
               CAST((ip_int // 65536) % 256 AS VARCHAR) || '.' ||
               CAST((ip_int // 256) % 256 AS VARCHAR) || '.' ||
               CAST(ip_int % 256 AS VARCHAR) AS ip_str
        FROM ev),
    parsed AS (
        SELECT *,
               CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216 +
               CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536 +
               CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256 +
               CAST(string_split(ip_str, '.')[4] AS BIGINT) AS reparsed
        FROM ips),
    cidrs(net_name, net_int, prefix) AS (VALUES {cidr_values})
    SELECT c.net_name,
           CAST(c.prefix AS INT) AS prefix,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
           CAST(MIN(p.ip_int) AS BIGINT) AS min_ip,
           CAST(MAX(p.ip_int) AS BIGINT) AS max_ip,
           CAST(SUM(CASE WHEN p.reparsed <> p.ip_int THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parse_errors
    FROM parsed p
    JOIN cidrs c
      ON p.ip_int // CAST(POW(2, 32 - c.prefix) AS BIGINT)
         = c.net_int // CAST(POW(2, 32 - c.prefix) AS BIGINT)
    GROUP BY 1, 2
    ORDER BY 1
    """


@query("fn_ip_network", oracle=_ip_oracle())
def fn_ip_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-extension — IPv4 / CIDR network analytics, the log-warehouse
    staple Spark has no builtin for: render dotted-quad strings from a
    32-bit int, PARSE them back (with a reparse-mismatch audit column —
    0 proves the roundtrip), and aggregate events per monitored CIDR
    block via prefix-mask equality against an inline VALUES dim.

    Exactness: everything is integer arithmetic — the ip hash, octet
    extraction (DIV/%), the reparse, and the prefix mask (divide by
    2^(32−p), exact for p ≤ 32) — engine-identical by construction.

    100 TB: the CIDR dim broadcasts (bounded block list); the mask
    match is a projection-side equality, so each event lands in at most
    |cidrs| groups with no fact-side shuffle before the map-side
    combined aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(_IP_HASH).cast("long").alias("ip_int"),
    )
    ip_str = F.concat_ws(
        ".",
        (F.col("ip_int") / 16777216).cast("long").cast("string"),
        ((F.col("ip_int") / 65536).cast("long") % 256).cast("string"),
        ((F.col("ip_int") / 256).cast("long") % 256).cast("string"),
        (F.col("ip_int") % 256).cast("string"),
    )
    ips = ev.withColumn("ip_str", ip_str)
    parts = F.split("ip_str", "\\.")
    parsed = ips.withColumn(
        "reparsed",
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long"),
    )
    cidrs = F.broadcast(
        spark.createDataFrame(
            _CIDRS, "net_name STRING, net_int BIGINT, prefix INT"
        )
    )
    mask = lambda col: (
        col / F.pow(F.lit(2.0), 32 - F.col("prefix")).cast("long")
    ).cast("long")
    return (
        parsed.join(cidrs, mask(F.col("ip_int")) == mask(F.col("net_int")))
        .groupBy("net_name", "prefix")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ip_int").alias("min_ip"),
            F.max("ip_int").alias("max_ip"),
            F.sum(
                F.when(F.col("reparsed") != F.col("ip_int"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_parse_errors"),
        )
        .orderBy("net_name")
    )


# ---------------------------------------------------------------------------
# geospatial: haversine nearest-site assignment (r4 wave)
# ---------------------------------------------------------------------------

#: fulfillment sites (name, lat, lon) — inline VALUES dim
_GEO_SITES = [
    ("ams", 52.37, 4.90),
    ("iad", 38.95, -77.45),
    ("sin", 1.35, 103.99),
    ("gru", -23.43, -46.47),
    ("syd", -33.95, 151.18),
]

_GEO_R_KM = 6371.0
_GEO_PI = 3.141592653589793


def _geo_oracle() -> str:
    sites = ", ".join(
        f"('{n}', {la}e0, {lo}e0)" for n, la, lo in _GEO_SITES
    )
    hav = f"""
        2.0e0 * {_GEO_R_KM}e0 * ASIN(SQRT(
            POW(SIN((s.slat - c.lat) * {_GEO_PI}e0 / 360.0), 2)
            + COS(c.lat * {_GEO_PI}e0 / 180.0)
              * COS(s.slat * {_GEO_PI}e0 / 180.0)
              * POW(SIN((s.slon - c.lon) * {_GEO_PI}e0 / 360.0), 2)))"""
    return f"""
    WITH c AS (
        SELECT c_custkey,
               -60.0e0 + (c_custkey * 7919 % 12000) / 100.0e0 AS lat,
               -180.0e0 + (c_custkey * 104729 % 36000) / 100.0e0 AS lon
        FROM customer),
    s(site, slat, slon) AS (VALUES {sites}),
    d AS (
        SELECT c.c_custkey, s.site,
               CAST(FLOOR(({hav}) * 10000.0 + 0.5) AS BIGINT) AS dist_q
        FROM c CROSS JOIN s),
    nearest AS (
        SELECT c_custkey, site, dist_q FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                          ORDER BY dist_q, site) AS rn
            FROM d)
        WHERE rn = 1)
    SELECT site,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           FLOOR(SUM(dist_q) * 1.0e0 / COUNT(*) / 10000.0 * 10.0 + 0.5)
               / 10.0 AS avg_km,
           FLOOR(MAX(dist_q) / 10000.0 * 10.0 + 0.5) / 10.0 AS max_km
    FROM nearest
    GROUP BY site
    ORDER BY site
    """


@query("geo_nearest_site", oracle=_geo_oracle())
def geo_nearest_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO family — haversine nearest-site assignment: customers (at
    deterministic synthetic coordinates derived from the key — exact
    integer arithmetic into exact dyadic/percent grids) assigned to
    the closest of 5 fulfillment sites on the great-circle metric,
    rolled up to per-site counts and distance stats.  The
    logistics/latency-zone workload every warehouse with coordinates
    runs; the site dim is an inline-VALUES broadcast.

    Exactness: the haversine chain (sin/cos/asin/sqrt over a shared
    π literal) is an identical expression tree on both engines;
    per-pair distances are QUANTIZED to integer 10⁻⁴ km units BEFORE
    the argmin and the mean (order-free sums, exact ties); ties break
    on site name.

    100 TB: |sites| is a constant — the cross join is a broadcast
    fan-out of 5 per customer, the argmin a WindowGroupLimit-pruned
    rank per customer, the rollup map-side combined.  Beyond a
    constant site list, the scale path is a geohash-bucket join
    (bucket by coarse cell, compare within cell ± neighbors — the LSH
    band discipline on the sphere)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(-60.0) + (F.col("c_custkey") * 7919 % 12000) / 100.0).alias(
            "lat"
        ),
        (
            F.lit(-180.0) + (F.col("c_custkey") * 104729 % 36000) / 100.0
        ).alias("lon"),
    )
    sites = F.broadcast(
        spark.createDataFrame(
            _GEO_SITES, "site STRING, slat DOUBLE, slon DOUBLE"
        )
    )
    pi = F.lit(_GEO_PI)
    hav = (
        F.lit(2.0)
        * F.lit(_GEO_R_KM)
        * F.asin(
            F.sqrt(
                F.pow(F.sin((F.col("slat") - F.col("lat")) * pi / 360.0), 2)
                + F.cos(F.col("lat") * pi / 180.0)
                * F.cos(F.col("slat") * pi / 180.0)
                * F.pow(
                    F.sin((F.col("slon") - F.col("lon")) * pi / 360.0), 2
                )
            )
        )
    )
    d = cust.crossJoin(sites).select(
        "c_custkey",
        "site",
        F.floor(hav * 10000.0 + F.lit(0.5)).cast("long").alias("dist_q"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_q", "site")
    nearest = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        nearest.groupBy("site")
        .agg(
            F.count("*").alias("n_customers"),
            roundn(
                F.sum("dist_q") * F.lit(1.0) / F.count("*") / 10000.0, 1
            ).alias("avg_km"),
            roundn(F.max("dist_q") / F.lit(10000.0), 1).alias("max_km"),
        )
        .orderBy("site")
    )


#: grid resolution per axis for the cell-density rollup
_GEO_GRID = 64


@query(
    "geo_cell_density",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               -6000 + (c_custkey * 7919 % 12000) AS lat_c,
               -18000 + (c_custkey * 104729 % 36000) AS lon_c,
               CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        FROM customer),
    binned AS (
        SELECT c_custkey, cents,
               (lat_c + 9000) * {_GEO_GRID} // 18000 AS latq,
               (lon_c + 18000) * {_GEO_GRID} // 36000 AS lonq
        FROM c),
    cells AS (
        SELECT CAST(latq AS BIGINT) AS latq, CAST(lonq AS BIGINT) AS lonq,
               CAST(latq * {_GEO_GRID} + lonq AS BIGINT) AS cell_id,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS acct_cents
        FROM binned GROUP BY 1, 2, 3)
    SELECT * FROM cells
    ORDER BY n_customers DESC, cell_id
    LIMIT 15
    """,
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO family — GRID-CELL density rollup, the bucketed scale path
    geo_nearest_site's docstring promises: coordinates (held as exact
    integer centi-degrees — no float touches the binning) quantize
    into a {g}×{g} global grid by pure integer arithmetic, and the
    top-15 densest cells report customer count and account mass.  The
    heat-map / coverage-planning readout, and the cell key is exactly
    what a geohash-bucket spatial JOIN would co-partition on (compare
    within cell ± neighbors — the LSH band discipline on the sphere).

    Exactness: everything is int64 — the synthetic coordinates, the
    DIV binning, counts and cents; the top-15 breaks ties on cell_id.

    100 TB: one map-side-combined aggregate on an 8-byte derived key;
    the top-15 is a TakeOrderedAndProject heap."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(-6000) + (F.col("c_custkey") * 7919 % 12000)).alias("lat_c"),
        (F.lit(-18000) + (F.col("c_custkey") * 104729 % 36000)).alias(
            "lon_c"
        ),
        F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    g = _GEO_GRID
    binned = cust.select(
        "cents",
        F.expr(f"(lat_c + 9000) * {g} DIV 18000").alias("latq"),
        F.expr(f"(lon_c + 18000) * {g} DIV 36000").alias("lonq"),
    )
    return (
        binned.groupBy("latq", "lonq")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("cents").alias("acct_cents"),
        )
        .select(
            "latq",
            "lonq",
            (F.col("latq") * g + F.col("lonq")).cast("long").alias("cell_id"),
            "n_customers",
            "acct_cents",
        )
        .orderBy(F.desc("n_customers"), "cell_id")
        .limit(15)
    )


geo_cell_density.__doc__ = geo_cell_density.__doc__.format(g=_GEO_GRID)


# ---------------------------------------------------------------------------
# geospatial: grid-bucketed point-in-rectangle join (r4m wave)
# ---------------------------------------------------------------------------

#: service zones as integer centi-degree rectangles
#: (zone, lat_min, lat_max, lon_min, lon_max) — half-open on max edges
_GEO_ZONES = [
    ("apac", -4500, 2000, 9500, 15500),
    ("atlantic_mid", 1000, 4000, -4500, 500),
    ("emea", 3500, 6000, -1000, 4000),
    ("equator_band", -1000, 1000, -18000, 18000),
    ("latam", -5500, 1000, -8500, -3500),
    ("nam", 2500, 5000, -12500, -7000),
]

#: bucket size in centi-degrees (10-degree grid cells)
_GEO_CELL = 1000


def _spatial_oracle() -> str:
    zones = ", ".join(
        f"('{z}', {a}, {b}, {c}, {d})" for z, a, b, c, d in _GEO_ZONES
    )
    cs = _GEO_CELL
    return f"""
    WITH z(zone, lat_min, lat_max, lon_min, lon_max) AS (VALUES {zones}),
    zcells AS (
        SELECT z.zone, z.lat_min, z.lat_max, z.lon_min, z.lon_max,
               cl.cl, cg.cg
        FROM z,
             generate_series(0, {18000 // _GEO_CELL - 1}) cl(cl),
             generate_series(0, {36000 // _GEO_CELL - 1}) cg(cg)
        WHERE cl.cl BETWEEN (z.lat_min + 9000) // {cs}
                        AND (z.lat_max - 1 + 9000) // {cs}
          AND cg.cg BETWEEN (z.lon_min + 18000) // {cs}
                        AND (z.lon_max - 1 + 18000) // {cs}),
    zsize AS (
        SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM zcells GROUP BY zone),
    pts AS (
        SELECT c_custkey,
               -6000 + (c_custkey * 7919 % 12000) AS lat_c,
               -18000 + (c_custkey * 104729 % 36000) AS lon_c,
               CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        FROM customer),
    binned AS (
        SELECT *,
               (lat_c + 9000) // {cs} AS cl,
               (lon_c + 18000) // {cs} AS cg
        FROM pts),
    hits AS (
        SELECT zc.zone, p.c_custkey, p.cents
        FROM binned p
        JOIN zcells zc ON zc.cl = p.cl AND zc.cg = p.cg
        WHERE p.lat_c >= zc.lat_min AND p.lat_c < zc.lat_max
          AND p.lon_c >= zc.lon_min AND p.lon_c < zc.lon_max),
    roll AS (
        SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS acct_cents
        FROM hits GROUP BY zone)
    SELECT s.zone, s.n_cells,
           COALESCE(r.n_customers, 0) AS n_customers,
           COALESCE(r.acct_cents, 0) AS acct_cents,
           FLOOR(CAST(COALESCE(r.n_customers, 0) AS DOUBLE)
                 / CAST(s.n_cells AS DOUBLE) * 100.0e0 + 0.5e0) / 100.0e0
               AS density
    FROM zsize s LEFT JOIN roll r ON r.zone = s.zone
    ORDER BY s.zone
    """


@query("geo_spatial_join", oracle=_spatial_oracle())
def geo_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO family — the GRID-BUCKETED spatial join geo_cell_density's
    docstring promises, executed: service-zone rectangles expand to
    the 10-degree grid cells they cover (a bounded cell x zone dim),
    points bucket to their cell by the same pure-integer binning, the
    join runs as an EQUI-join on the cell key, and the exact
    point-in-rectangle predicate filters inside the hash match — the
    geohash-bucket discipline that turns an unbounded spatial theta-
    join into a co-partitioned hash join.  Zones overlap by design
    (the equator band crosses three regional zones), so a point can
    land in several zones — the multi-coverage a service-area review
    needs.

    Exactness: coordinates, rectangle edges, and cell keys are ALL
    integer centi-degrees (half-open [min, max) edges — boundary
    membership is an integer comparison, never a float epsilon);
    counts/cents exact int64; the density divides once, 2 dp.

    100 TB: points never broadcast and never cross-join — the fact
    side shuffles once on the 8-byte cell key (map-side combinable
    after the rollup), the zone-cell dim (~150 rows) broadcasts, and
    per-zone results are dim-sized.  Skewed cells (urban hotspots)
    ride the same AQE skew-split as any hash join."""
    cs = _GEO_CELL
    zones = spark.createDataFrame(
        _GEO_ZONES,
        "zone STRING, lat_min INT, lat_max INT, lon_min INT, lon_max INT",
    )
    zcells = (
        zones.withColumn(
            "cl",
            F.explode(
                F.expr(
                    f"sequence((lat_min + 9000) DIV {cs},"
                    f" (lat_max - 1 + 9000) DIV {cs})"
                )
            ),
        )
        .withColumn(
            "cg",
            F.explode(
                F.expr(
                    f"sequence((lon_min + 18000) DIV {cs},"
                    f" (lon_max - 1 + 18000) DIV {cs})"
                )
            ),
        )
    )
    zsize = zcells.groupBy("zone").agg(F.count("*").cast("long").alias("n_cells"))
    pts = load_table(spark, sf_dir, "customer").select(
        (F.lit(-6000) + (F.col("c_custkey") * 7919 % 12000)).alias("lat_c"),
        (F.lit(-18000) + (F.col("c_custkey") * 104729 % 36000)).alias("lon_c"),
        F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    binned = pts.select(
        "*",
        F.expr(f"(lat_c + 9000) DIV {cs}").alias("cl"),
        F.expr(f"(lon_c + 18000) DIV {cs}").alias("cg"),
    )
    hits = binned.join(F.broadcast(zcells), ["cl", "cg"]).where(
        (F.col("lat_c") >= F.col("lat_min"))
        & (F.col("lat_c") < F.col("lat_max"))
        & (F.col("lon_c") >= F.col("lon_min"))
        & (F.col("lon_c") < F.col("lon_max"))
    )
    roll = hits.groupBy("zone").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("acct_cents"),
    )
    return (
        zsize.join(roll, "zone", "left")
        .select(
            "zone",
            "n_cells",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("acct_cents", F.lit(0)).alias("acct_cents"),
            roundn(
                F.coalesce("n_customers", F.lit(0)).cast("double")
                / F.col("n_cells").cast("double"),
                2,
            ).alias("density"),
        )
        .orderBy("zone")
    )


# ---------------------------------------------------------------------------
# trigram fuzzy matching (r4r wave)
# ---------------------------------------------------------------------------

#: misspelled probe strings to resolve against the part-name catalog
_TRGM_PROBES = [
    ("q1", "cold wigdet"),
    ("q2", "smal widget"),
    ("q3", "blue rodd"),
    ("q4", "large blot"),
    ("q5", "grean gear"),
]
_TRGM_TOP = 3


def _trgm_oracle() -> str:
    probes = ", ".join(f"('{k}', '{s}')" for k, s in _TRGM_PROBES)
    tg = (
        "list_distinct(list_transform(range(1, length({c}) - 1),"
        " i -> substr({c}, i, 3)))"
    )
    return f"""
    WITH names AS (
        SELECT DISTINCT p_name AS name FROM part WHERE length(p_name) >= 3),
    ntg AS (
        SELECT name, UNNEST({tg.format(c="name")}) AS tri FROM names),
    nsz AS (SELECT name, CAST(COUNT(*) AS BIGINT) AS na FROM ntg GROUP BY 1),
    probes(pid, q) AS (VALUES {probes}),
    ptg AS (
        SELECT pid, q, UNNEST({tg.format(c="q")}) AS tri FROM probes),
    psz AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS nb FROM ptg GROUP BY 1),
    inter AS (
        SELECT p.pid, n.name, CAST(COUNT(*) AS BIGINT) AS ni
        FROM ptg p JOIN ntg n ON n.tri = p.tri
        GROUP BY 1, 2),
    scored AS (
        SELECT i.pid, i.name, i.ni, s.na, z.nb,
               FLOOR(CAST(i.ni AS DOUBLE)
                     / CAST(s.na + z.nb - i.ni AS DOUBLE)
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS sim
        FROM inter i JOIN nsz s ON s.name = i.name
        JOIN psz z ON z.pid = i.pid),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY pid
                       ORDER BY sim DESC, name) AS BIGINT) AS rnk
        FROM scored)
    SELECT r.pid, p.q AS probe, r.name AS match, r.ni AS n_shared,
           r.sim, r.rnk
    FROM ranked r JOIN probes p ON p.pid = r.pid
    WHERE r.rnk <= {_TRGM_TOP}
    ORDER BY r.pid, r.rnk
    """


@query("fn_trigram_sim", oracle=_trgm_oracle())
def fn_trigram_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-matching tier, SET-similarity rung (beside the edit-
    distance rung fn_levenshtein and the phonetic rung
    fn_soundex_portable): resolve misspelled probe strings against the
    part-name catalog by character-TRIGRAM Jaccard — the pg_trgm
    discipline.  Candidates are generated by an EQUI-join on shared
    trigrams (a probe only ever meets names it shares >= 1 trigram
    with — the blocking step that makes fuzzy matching a hash join
    instead of an all-pairs scan), intersections counted exactly, and
    each probe reports its top-{t} matches.

    Exactness: trigram sets are exact (list_distinct both engines);
    Jaccard = ni/(na+nb-ni) is ONE division over exact int64 counts,
    4-dp-quantized BEFORE ranking; ties break on the name.

    100 TB: the name side is VOCABULARY-sized (distinct names), the
    probe side a literal dim; the trigram join shuffles on a 3-char
    key (8-byte hash at scale) and candidate fan-out is bounded by
    trigram selectivity, never |names| x |probes|."""
    part = load_table(spark, sf_dir, "part")
    tg = (
        "array_distinct(transform(sequence(1, char_length({c}) - 2),"
        " i -> substring({c}, i, 3)))"
    )
    names = (
        part.select(F.col("p_name").alias("name"))
        .where(F.length("name") >= 3)
        .distinct()
    )
    ntg = names.select(
        "name", F.explode(F.expr(tg.format(c="name"))).alias("tri")
    )
    ntg = ntg.localCheckpoint(eager=False)  # sizes + join consumers
    nsz = ntg.groupBy("name").agg(F.count("*").cast("long").alias("na"))
    probes = spark.createDataFrame(_TRGM_PROBES, "pid STRING, q STRING")
    ptg = probes.select(
        "pid", "q", F.explode(F.expr(tg.format(c="q"))).alias("tri")
    )
    psz = ptg.groupBy("pid").agg(F.count("*").cast("long").alias("nb"))
    inter = (
        ptg.join(ntg, "tri")
        .groupBy("pid", "name")
        .agg(F.count("*").cast("long").alias("ni"))
    )
    scored = (
        inter.join(nsz, "name")
        .join(F.broadcast(psz), "pid")
        .select(
            "pid",
            "name",
            "ni",
            roundn(
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni")).cast("double"),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("pid").orderBy(F.desc("sim"), F.asc("name"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _TRGM_TOP)
        .join(F.broadcast(probes), "pid")
        .select(
            "pid",
            F.col("q").alias("probe"),
            F.col("name").alias("match"),
            F.col("ni").alias("n_shared"),
            "sim",
            "rnk",
        )
        .orderBy("pid", "rnk")
    )


# ---------------------------------------------------------------------------
# DataFrame.transpose (r5c wave)
# ---------------------------------------------------------------------------


@query(
    "df_transpose",
    oracle="""
    WITH m AS (
        SELECT r.r_name,
               CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
               CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY r.r_name)
    SELECT t.key,
           MAX(CASE WHEN m.r_name = 'AFRICA' THEN v END) AS "AFRICA",
           MAX(CASE WHEN m.r_name = 'AMERICA' THEN v END) AS "AMERICA",
           MAX(CASE WHEN m.r_name = 'ASIA' THEN v END) AS "ASIA",
           MAX(CASE WHEN m.r_name = 'EUROPE' THEN v END) AS "EUROPE",
           MAX(CASE WHEN m.r_name = 'MIDDLE EAST' THEN v END)
               AS "MIDDLE EAST"
    FROM m, LATERAL (VALUES ('n_nations', m.n_nations),
                            ('n_customers', m.n_customers),
                            ('n_suppliers', m.n_suppliers)) t(key, v)
    GROUP BY t.key
    ORDER BY t.key
    """,
)
def df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-extension — ``DataFrame.transpose()`` (Spark 4.0,
    SPARK-47884): flip a per-region metrics table so metrics become
    rows and regions become columns — the report-layout pivot analysts
    ask for where the row count (metrics) is small and fixed.  The
    first column's VALUES become the transposed column names; the
    oracle rebuilds the same shape relationally (unpivot via LATERAL
    VALUES + conditional re-pivot).

    Exactness: all values are exact distinct-counts; transpose moves
    cells without arithmetic.

    100 TB: transpose requires the frame to be column-count-bounded
    after transposition — i.e. the INPUT must be dim-sized (here: 5
    regions), which the region rollup guarantees regardless of fact
    volume; the metric collection itself is map-side distinct
    aggregation."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    m = (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .join(supplier, supplier.s_nationkey == nation.n_nationkey, "left")
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").cast("long").alias("n_nations"),
            F.countDistinct("c_custkey").cast("long").alias("n_customers"),
            F.countDistinct("s_suppkey").cast("long").alias("n_suppliers"),
        )
        .orderBy("r_name")
    )
    return m.transpose().orderBy("key")


# ---------------------------------------------------------------------------
# SQL scripting with session variables (r5c wave)
# ---------------------------------------------------------------------------


@query(
    "sql_scripting",
    oracle="""
    WITH RECURSIVE n AS (
        SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        FROM events),
    dbl(cap, iters) AS (
        SELECT CAST(1 AS BIGINT), 0
        UNION ALL
        SELECT cap * 2, iters + 1 FROM dbl, n WHERE cap < n.n_days)
    SELECT n.n_days,
           CAST(MAX(cap) AS BIGINT) AS cap,
           CAST(MAX(iters) AS INT) AS iters
    FROM dbl, n GROUP BY n.n_days
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — SQL SCRIPTING (Spark 4.0, SPARK-48338): a
    BEGIN…END block with DECLAREd session variables and a WHILE loop,
    the procedural control-flow surface stored-procedure workloads
    migrate through.  The script sizes a power-of-two hash-table
    capacity for the feed's distinct-day domain (the doubling loop
    every capacity planner writes), reading its bound from a real
    aggregate into a variable, looping in pure integer arithmetic, and
    SELECTing the final state.  The oracle reproduces the loop as a
    recursive CTE — same integers, declarative form.

    Exactness: all-integer state; loop trip count is the bit-length of
    the day domain.

    100 TB: ONE fact aggregate feeds the variable; the loop runs on
    scalars driver-side (procedural control flow never touches data
    rows — the script's data work stays declarative and distributed)."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(F.to_date("ts").alias("day")).createOrReplaceTempView(
        "script_days"
    )
    return spark.sql("""
        BEGIN
          DECLARE n_days BIGINT DEFAULT 0;
          DECLARE cap BIGINT DEFAULT 1;
          DECLARE iters INT DEFAULT 0;
          SET n_days = (SELECT COUNT(DISTINCT day) FROM script_days);
          WHILE cap < n_days DO
            SET cap = cap * 2;
            SET iters = iters + 1;
          END WHILE;
          SELECT n_days, cap, iters;
        END
    """)


# ---------------------------------------------------------------------------
# ensemble entity resolution (r5g wave)
# ---------------------------------------------------------------------------

#: signal thresholds: edit distance <= _ER_LEV, trigram jaccard >=
#: _ER_TRI (per-mille), token jaccard cross-multiplied at 1/3
_ER_LEV = 4
_ER_TRI_PM = 400


@query(
    "er_match_ensemble",
    oracle=f"""
    WITH names AS (
        SELECT DISTINCT p_name AS name FROM part),
    keyed AS (
        SELECT name,
               string_split(name, ' ') AS toks,
               list_distinct(list_transform(
                   range(1, length(name) - 1),
                   i -> name[i:i+2])) AS tg,
               string_split(name, ' ')[-1] AS block
        FROM names),
    pairs AS (
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
               CAST(len(list_filter(a.tg, t -> list_contains(b.tg, t)))
                    AS BIGINT) AS tri_i,
               CAST(len(a.tg) AS BIGINT) AS tri_a,
               CAST(len(b.tg) AS BIGINT) AS tri_b,
               CAST(len(list_filter(a.toks,
                                    t -> list_contains(b.toks, t)))
                    AS BIGINT) AS tok_i,
               CAST(len(a.toks) AS BIGINT) AS tok_a,
               CAST(len(b.toks) AS BIGINT) AS tok_b
        FROM keyed a JOIN keyed b
          ON a.block = b.block AND a.name < b.name),
    scored AS (
        SELECT name_a, name_b, lev,
               FLOOR(tri_i * 1.0e0 / (tri_a + tri_b - tri_i)
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS tri_jac,
               FLOOR(tok_i * 1.0e0 / (tok_a + tok_b - tok_i)
                     * 10000.0e0 + 0.5e0) / 10000.0e0 AS tok_jac,
               CAST(CASE WHEN lev <= {_ER_LEV} THEN 1 ELSE 0 END
                    + CASE WHEN 1000 * tri_i
                                >= {_ER_TRI_PM} * (tri_a + tri_b - tri_i)
                           THEN 1 ELSE 0 END
                    + CASE WHEN 3 * tok_i >= (tok_a + tok_b - tok_i)
                           THEN 1 ELSE 0 END AS INT) AS votes
        FROM pairs)
    SELECT name_a, name_b, lev, tri_jac, tok_jac, votes,
           CAST(votes >= 2 AS INT) AS is_match
    FROM scored
    ORDER BY name_a, name_b
    """,
)
def er_match_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-matching tier, ENSEMBLE rung — entity resolution the way
    production MDM does it: no single similarity signal survives real
    data, so candidate pairs (blocked on the head noun — the classic
    blocking key) are scored by THREE independent signals — edit
    distance (typos), character-trigram Jaccard (substring noise),
    token-set Jaccard (word reorder/insert) — and matched on a 2-of-3
    VOTE.  Single-signal rungs: fn_levenshtein, fn_trigram_sim,
    fn_soundex_portable; this composes them into a decision.

    Exactness: edit distance and set intersections are exact integers;
    both Jaccard thresholds are CROSS-MULTIPLIED integer comparisons
    (never a float threshold); displayed similarities are single
    divisions quantized at 1e-4.

    100 TB: the catalog is vocabulary-sized after DISTINCT; blocking
    makes candidate generation an equi-join with Σ|block|² fan-out
    (never all-pairs); each signal is per-pair projection arithmetic —
    no extra shuffles."""
    part = load_table(spark, sf_dir, "part")
    keyed = part.select(F.col("p_name").alias("name")).distinct().select(
        "name",
        F.split("name", " ").alias("toks"),
        F.array_distinct(
            F.expr(
                "transform(sequence(1, char_length(name) - 2),"
                " i -> substring(name, i, 3))"
            )
        ).alias("tg"),
        F.element_at(F.split("name", " "), -1).alias("block"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    inter = lambda x, y: F.size(F.array_intersect(x, y))
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.name") < F.col("b.name")),
    ).select(
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
        F.levenshtein(F.col("a.name"), F.col("b.name"))
        .cast("long")
        .alias("lev"),
        inter(F.col("a.tg"), F.col("b.tg")).cast("long").alias("tri_i"),
        F.size(F.col("a.tg")).cast("long").alias("tri_a"),
        F.size(F.col("b.tg")).cast("long").alias("tri_b"),
        inter(F.col("a.toks"), F.col("b.toks")).cast("long").alias("tok_i"),
        F.size(F.col("a.toks")).cast("long").alias("tok_a"),
        F.size(F.col("b.toks")).cast("long").alias("tok_b"),
    )
    tri_u = F.col("tri_a") + F.col("tri_b") - F.col("tri_i")
    tok_u = F.col("tok_a") + F.col("tok_b") - F.col("tok_i")
    votes = (
        F.when(F.col("lev") <= _ER_LEV, 1).otherwise(0)
        + F.when(1000 * F.col("tri_i") >= _ER_TRI_PM * tri_u, 1).otherwise(0)
        + F.when(3 * F.col("tok_i") >= tok_u, 1).otherwise(0)
    ).cast("int")
    return (
        pairs.select(
            "name_a",
            "name_b",
            "lev",
            roundn(F.col("tri_i") * F.lit(1.0) / tri_u.cast("double"), 4).alias(
                "tri_jac"
            ),
            roundn(F.col("tok_i") * F.lit(1.0) / tok_u.cast("double"), 4).alias(
                "tok_jac"
            ),
            votes.alias("votes"),
            (votes >= 2).cast("int").alias("is_match"),
        )
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# multi-format date parsing battery (r5i wave)
# ---------------------------------------------------------------------------


@query(
    "fn_date_multiformat",
    oracle="""
    WITH dirty AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 17 = 0 THEN 'not-a-date'
                    WHEN o_orderkey % 4 = 0
                      THEN strftime(o_orderdate, '%Y-%m-%d')
                    WHEN o_orderkey % 4 = 1
                      THEN strftime(o_orderdate, '%m/%d/%Y')
                    WHEN o_orderkey % 4 = 2
                      THEN strftime(o_orderdate, '%d.%m.%Y')
                    ELSE strftime(o_orderdate, '%Y%m%d') END AS raw
        FROM orders),
    parsed AS (
        SELECT o_orderkey, o_orderdate, raw,
               COALESCE(
                   CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
                   CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
                   CAST(try_strptime(raw, '%d.%m.%Y') AS DATE),
                   CAST(try_strptime(raw, '%Y%m%d') AS DATE)) AS parsed,
               CASE
                 WHEN try_strptime(raw, '%Y-%m-%d') IS NOT NULL THEN 'iso'
                 WHEN try_strptime(raw, '%m/%d/%Y') IS NOT NULL THEN 'us'
                 WHEN try_strptime(raw, '%d.%m.%Y') IS NOT NULL THEN 'eu'
                 WHEN try_strptime(raw, '%Y%m%d') IS NOT NULL
                   THEN 'compact'
               END AS matched_fmt
        FROM dirty)
    SELECT o_orderkey, raw, parsed, matched_fmt,
           CAST(parsed IS NULL AS INT) AS is_unparsed,
           CAST(parsed = CAST(o_orderdate AS DATE) AS INT) AS roundtrip_ok
    FROM parsed
    ORDER BY o_orderkey
    """,
)
def fn_date_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-extension — the DIRTY-DATE parse battery every landing-zone
    cleanse runs: a string date column arriving in four formats (ISO,
    US slash, EU dot, compact) plus outright garbage is resolved by a
    try-parse CHAIN (first matching format wins, NULL survives as the
    quarantine marker — never an exception), with the matched format
    recorded for feed forensics and a roundtrip check against the
    source-of-truth date.  ``fn_try_safe`` covers arithmetic TRY
    semantics; this is the date-ingestion application.

    Determinism: the dirty strings derive from o_orderdate by key
    modulus; separators make the four formats mutually exclusive, so
    the chain order never flips a match; both engines parse with their
    native TRY parser (try_to_date / try_strptime) over equivalent
    patterns.

    100 TB: pure projection — whole-stage-codegen, no shuffle; the
    try-chain is four pattern matches per row, and the quarantine
    filter is sargable on the output NULL."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    # the 8-pattern try-parse battery is per-row expensive; spread the
    # narrow (key, date) projection across cores before paying it
    # (fan_out is a no-op at production scan split counts)
    dirty = fan_out(orders.select("o_orderkey", "o_orderdate")).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("truth"),
        F.when(k % 17 == 0, F.lit("not-a-date"))
        .when(k % 4 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(k % 4 == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(k % 4 == 2, F.date_format("o_orderdate", "dd.MM.yyyy"))
        .otherwise(F.date_format("o_orderdate", "yyyyMMdd"))
        .alias("raw"),
    )
    t = lambda fmt: F.try_to_timestamp(F.col("raw"), F.lit(fmt)).cast("date")
    parsed = F.coalesce(
        t("yyyy-MM-dd"), t("MM/dd/yyyy"), t("dd.MM.yyyy"), t("yyyyMMdd")
    )
    matched = (
        F.when(t("yyyy-MM-dd").isNotNull(), "iso")
        .when(t("MM/dd/yyyy").isNotNull(), "us")
        .when(t("dd.MM.yyyy").isNotNull(), "eu")
        .when(t("yyyyMMdd").isNotNull(), "compact")
    )
    return dirty.select(
        "o_orderkey",
        "raw",
        parsed.alias("parsed"),
        matched.alias("matched_fmt"),
        parsed.isNull().cast("int").alias("is_unparsed"),
        (parsed == F.col("truth")).cast("int").alias("roundtrip_ok"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# optimizer hints surface (r5m wave)
# ---------------------------------------------------------------------------


@query(
    "sql_hints",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0e0 + 0.5e0) AS BIGINT))
                AS BIGINT) AS bal_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def sql_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension — the OPTIMIZER-HINT surface (`/*+ ... */`): the
    escape hatch when statistics mislead the planner — here
    `BROADCAST(n)` pins the dim to a broadcast-hash join and
    `REPARTITION(8, n_name)` shapes the result's partitioning,
    inside otherwise-plain SQL.  The RESULT is identical to the
    unhinted query (the oracle is hint-free — hints must never change
    semantics, which is exactly what the driver compare certifies);
    the plan effect is pinned by `tests/test_wave_r5m.py` (a MERGE
    hint on the same query plans a sort-merge join instead).

    100 TB: hints are the documented LAST resort — AQE's runtime
    re-plan is the default posture; a pinned BROADCAST of a
    mis-estimated big side is the classic OOM, so production hints are
    code-reviewed against table-size budgets."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_h"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_h")
    return spark.sql("""
        SELECT /*+ BROADCAST(n), REPARTITION(8, n_name) */
               n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(FLOOR(c.c_acctbal * 100.0D + 0.5D) AS BIGINT))
                    AS BIGINT) AS bal_cents
        FROM customer_h c JOIN nation_h n
          ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """)


# --------------------------------------------------------------------------
# fn_currency_parse — messy multi-locale currency parsing
# --------------------------------------------------------------------------

#: shared channel + parser fragments (Spark SQL and DuckDB dialects agree
#: on every function used: length/substr/replace/regexp_extract/CASE).
_CUR_CENTS = "CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)"
# digit-group the dollar part without lookahead (RE2 has none): TPC-H
# totals are <= 7 digits of dollars; the CASE tree covers 1..9.
_CUR_GROUP = """
    CASE WHEN LENGTH(d) <= 3 THEN d
         WHEN LENGTH(d) <= 6 THEN
              SUBSTR(d, 1, LENGTH(d) - 3) || ',' ||
              SUBSTR(d, LENGTH(d) - 2, 3)
         ELSE SUBSTR(d, 1, LENGTH(d) - 6) || ',' ||
              SUBSTR(d, LENGTH(d) - 5, 3) || ',' ||
              SUBSTR(d, LENGTH(d) - 2, 3)
    END
"""


@query(
    "fn_currency_parse",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % 4 AS fmt_id,
               {_CUR_CENTS} AS cents,
               CAST({_CUR_CENTS} // 100 AS VARCHAR) AS d,
               LPAD(CAST({_CUR_CENTS} % 100 AS VARCHAR), 2, '0') AS f
        FROM orders),
    raw AS (
        SELECT fmt_id, cents,
               CASE fmt_id
                    WHEN 0 THEN '$' || ({_CUR_GROUP}) || '.' || f
                    WHEN 1 THEN REPLACE(({_CUR_GROUP}), ',', '.')
                                || ',' || f || ' EUR'
                    WHEN 2 THEN d || '.' || f
                    ELSE '($' || ({_CUR_GROUP}) || '.' || f || ')'
               END AS raw_str,
               CASE WHEN fmt_id = 3 THEN -cents ELSE cents END
                   AS expected_cents
        FROM base),
    parsed AS (
        SELECT fmt_id, raw_str, expected_cents,
               CASE WHEN raw_str LIKE '(%' THEN -1 ELSE 1 END AS sign,
               CASE
                    WHEN raw_str LIKE '% EUR' THEN
                         REPLACE(REPLACE(REPLACE(raw_str, ' EUR', ''),
                                         '.', ''), ',', '.')
                    ELSE REPLACE(REPLACE(REPLACE(REPLACE(raw_str,
                         '(', ''), ')', ''), '$', ''), ',', '')
               END AS clean
        FROM raw),
    ints AS (
        SELECT fmt_id, expected_cents,
               sign * (CAST(REGEXP_EXTRACT(clean,
                            '^([0-9]+)\\.([0-9]{{2}})$', 1) AS BIGINT)
                       * 100
                       + CAST(REGEXP_EXTRACT(clean,
                              '^([0-9]+)\\.([0-9]{{2}})$', 2) AS BIGINT))
                   AS parsed_cents
        FROM parsed)
    SELECT CASE fmt_id WHEN 0 THEN 'us_symbol' WHEN 1 THEN 'eu_locale'
                       WHEN 2 THEN 'plain' ELSE 'accounting_neg' END
               AS fmt,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(parsed_cents) AS BIGINT) AS sum_parsed_cents,
           CAST(SUM(CASE WHEN parsed_cents <> expected_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM ints
    GROUP BY fmt_id
    ORDER BY fmt
    """,
)
def fn_currency_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-money tier — MULTI-LOCALE CURRENCY PARSING: each order total
    is rendered in one of four real-world wire formats cycled by key
    (US ``$1,234.56``; EU ``1.234,56 EUR`` — separators swapped;
    bare ``1234.56``; accounting-negative ``($1,234.56)``), then parsed
    back by format forensics (suffix/prefix detection → separator
    normalization → INTEGER dollar/fraction extraction).  The sibling of
    `fn_date_multiformat` on the money axis: same deterministic-channel
    discipline, same per-format mismatch audit (``n_mismatch`` = 0 is
    the roundtrip law, including the sign flip on accounting format).

    Exactness: no float ever parses — dollars and cents extract as
    regex groups and recombine as int64 (dollars·100 + frac), so the
    audit is exact equality on integers.  Digit grouping is a CASE tree
    on length (RE2 has no lookahead; the tree is the portable form).

    100 TB: whole-stage-codegen projection + map-side 4-group
    aggregate; no shuffle wider than 4 rows.

    Reference parity: the reference ingests raw CSVs with string-typed
    money columns (`dags/config/pipeline_config.yaml` table schemas);
    locale-robust parsing is the cleanse that stage needs first.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderkey % 4 AS fmt_id",
        f"{_CUR_CENTS} AS cents",
        f"CAST({_CUR_CENTS} DIV 100 AS STRING) AS d",
        f"LPAD(CAST({_CUR_CENTS} % 100 AS STRING), 2, '0') AS f",
    )
    grouped = _CUR_GROUP
    raw = base.selectExpr(
        "fmt_id",
        "cents",
        f"""CASE fmt_id
                WHEN 0 THEN '$' || ({grouped}) || '.' || f
                WHEN 1 THEN REPLACE(({grouped}), ',', '.')
                            || ',' || f || ' EUR'
                WHEN 2 THEN d || '.' || f
                ELSE '($' || ({grouped}) || '.' || f || ')'
            END AS raw_str""",
        "CASE WHEN fmt_id = 3 THEN -cents ELSE cents END AS expected_cents",
    )
    parsed = raw.selectExpr(
        "fmt_id",
        "expected_cents",
        "CASE WHEN raw_str LIKE '(%' THEN -1 ELSE 1 END AS sign",
        """CASE
               WHEN raw_str LIKE '% EUR' THEN
                    REPLACE(REPLACE(REPLACE(raw_str, ' EUR', ''),
                            '.', ''), ',', '.')
               ELSE REPLACE(REPLACE(REPLACE(REPLACE(raw_str,
                    '(', ''), ')', ''), '$', ''), ',', '')
           END AS clean""",
    ).selectExpr(
        "fmt_id",
        "expected_cents",
        r"""sign * (CAST(REGEXP_EXTRACT(clean,
                         '^([0-9]+)\\.([0-9]{2})$', 1) AS BIGINT) * 100
                    + CAST(REGEXP_EXTRACT(clean,
                           '^([0-9]+)\\.([0-9]{2})$', 2) AS BIGINT))
                AS parsed_cents""",
    )
    return (
        parsed.groupBy("fmt_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("parsed_cents").cast("long").alias("sum_parsed_cents"),
            F.sum(
                F.when(
                    F.col("parsed_cents") != F.col("expected_cents"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatch"),
        )
        .select(
            F.when(F.col("fmt_id") == 0, "us_symbol")
            .when(F.col("fmt_id") == 1, "eu_locale")
            .when(F.col("fmt_id") == 2, "plain")
            .otherwise("accounting_neg")
            .alias("fmt"),
            "n",
            "sum_parsed_cents",
            "n_mismatch",
        )
        .orderBy("fmt")
    )


# --------------------------------------------------------------------------
# fn_json_schema_infer — semi-structured key/type census
# --------------------------------------------------------------------------

#: the candidate key universe the census scans (schema inference over a
#: fixed registry of candidate columns — paths must be literals for
#: Spark's variant_get)
_JSI_KEYS = ("k", "device", "dur_ms", "price", "tags", "flag")

#: deterministic semi-structured channel: four page shapes cycled by
#: event_id, with a TYPE CONFLICT planted on "k" (number 3/4, string
#: 1/4) and an explicit null on "device"
_JSI_PROPS_SQL = """
    CASE CAST(event_id % 4 AS BIGINT)
         WHEN 0 THEN '{{"k": ' || kv || ', "device": "mobile",'
                     || ' "dur_ms": ' || dur || '}}'
         WHEN 1 THEN '{{"k": ' || kv || ', "device": null,'
                     || ' "price": 19.99}}'
         WHEN 2 THEN '{{"k": "' || kv || '", "tags": [1, 2],'
                     || ' "flag": true}}'
         ELSE '{{"k": ' || kv || '}}'
    END
"""


def _jsi_oracle() -> str:
    props = _JSI_PROPS_SQL.format()
    classify = """CASE WHEN {t} IS NULL THEN 'missing'
               WHEN {t} = 'NULL' THEN 'null'
               WHEN {t} = 'BOOLEAN' THEN 'bool'
               WHEN {t} = 'VARCHAR' THEN 'string'
               WHEN {t} = 'ARRAY' THEN 'array'
               WHEN {t} = 'OBJECT' THEN 'object'
               ELSE 'number' END"""
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{k}' AS key,
               {classify.format(t=f"json_type(props2::JSON, '$.{k}')")}
                   AS cls
            FROM built"""
        for k in _JSI_KEYS
    )
    return f"""
    WITH src AS (
        SELECT event_id,
               json_extract_string(props, '$.k') AS kv,
               CAST(CAST(FLOOR(value * 1000.0e0 + 0.5e0) AS BIGINT)
                    AS VARCHAR) AS dur
        FROM events),
    built AS (SELECT {props} AS props2 FROM src),
    classed AS ({arms}),
    agg AS (
        SELECT key,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN cls = 'missing' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing,
               CAST(SUM(CASE WHEN cls = 'null' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(SUM(CASE WHEN cls = 'number' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_number,
               CAST(SUM(CASE WHEN cls = 'string' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_string,
               CAST(SUM(CASE WHEN cls = 'array' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_array,
               CAST(SUM(CASE WHEN cls = 'bool' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bool
        FROM classed GROUP BY key)
    SELECT key, n_total, n_missing, n_null, n_number, n_string, n_array,
           n_bool,
           FLOOR(CAST(n_total - n_missing AS DOUBLE)
                 / CAST(n_total AS DOUBLE) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS presence_pct,
           CASE WHEN (CASE WHEN n_number > 0 THEN 1 ELSE 0 END
                      + CASE WHEN n_string > 0 THEN 1 ELSE 0 END
                      + CASE WHEN n_array > 0 THEN 1 ELSE 0 END
                      + CASE WHEN n_bool > 0 THEN 1 ELSE 0 END) > 1
                THEN 'string_widened'
                WHEN n_number > 0 THEN 'number'
                WHEN n_string > 0 THEN 'string'
                WHEN n_array > 0 THEN 'array'
                WHEN n_bool > 0 THEN 'bool'
                ELSE 'unknown' END AS inferred_type,
           (n_null > 0 OR n_missing > 0) AS nullable
    FROM agg
    ORDER BY key
    """


@query("fn_json_schema_infer", oracle=_jsi_oracle())
def fn_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured tier — JSON SCHEMA INFERENCE CENSUS: the
    landing-zone question "what columns does this feed actually carry,
    with what types, how often?" answered per candidate key — presence
    / explicit-null / per-type-kind counts, a presence rate, the
    widened inferred type (>1 observed kind → string, the CSV-loader
    rule — the channel PLANTS that conflict: ``k`` arrives as a number
    in 3 of 4 page shapes and as a string in the 4th), and a
    nullability verdict.  The channel is deterministic (four page
    shapes cycled by event_id), so every count is replayable.

    Engine-portability is the point of the key: Spark classifies via
    VARIANT introspection (``schema_of_variant(variant_get(...))`` —
    BIGINT/DECIMAL/DOUBLE → number, VOID → null, missing → NULL),
    DuckDB via ``json_type`` (UBIGINT/DOUBLE → number, 'NULL' → null)
    — two different type systems normalized to one kind vocabulary,
    certified equal by the hash compare.

    100 TB: one scan; per-key classification is projection-side; the
    census collapses map-side to |candidate keys| rows.  Unknown-key
    discovery swaps the literal paths for ``json_object_keys`` +
    explode — same plan shape, one extra exchange.

    Reference parity: the reference lands JSON-ish payloads whose
    schema the staging DDL hardcodes
    (`dags/config/pipeline_config.yaml` table schemas); this census is
    how that DDL gets WRITTEN — and how drift gets caught
    (`ops_schema_evolution_compat` is the downstream judge).
    """
    ev = load_table(spark, sf_dir, "events")
    # JSON build + variant parse + 7 classifications per row: spread
    # the narrow projection across cores (no-op at production splits)
    src = fan_out(ev.select("event_id", "props", "value")).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("kv"),
        F.floor(F.col("value") * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("dur"),
    )
    built = src.selectExpr(
        _JSI_PROPS_SQL.format().replace("{{", "{").replace("}}", "}")
        + " AS props2"
    ).select(F.parse_json(F.col("props2")).alias("v"))

    def _cls(key: str) -> F.Column:
        t = F.expr(f"schema_of_variant(variant_get(v, '$.{key}'))")
        return (
            F.when(t.isNull(), "missing")
            .when(t == "VOID", "null")
            .when(t == "BOOLEAN", "bool")
            .when(t == "STRING", "string")
            .when(t.startswith("ARRAY"), "array")
            .when(
                t.startswith("STRUCT") | t.startswith("OBJECT"), "object"
            )
            .otherwise("number")
        )

    classed = built.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key"), _cls(k).alias("cls")
                    )
                    for k in _JSI_KEYS
                ]
            )
        ).alias("x")
    ).select("x.*")

    def _cnt(kind: str) -> F.Column:
        return (
            F.sum(F.when(F.col("cls") == kind, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{kind}")
        )

    agg = classed.groupBy("key").agg(
        F.count("*").cast("long").alias("n_total"),
        _cnt("missing"),
        _cnt("null"),
        _cnt("number"),
        _cnt("string"),
        _cnt("array"),
        _cnt("bool"),
    )
    kinds = (
        F.when(F.col("n_number") > 0, 1).otherwise(0)
        + F.when(F.col("n_string") > 0, 1).otherwise(0)
        + F.when(F.col("n_array") > 0, 1).otherwise(0)
        + F.when(F.col("n_bool") > 0, 1).otherwise(0)
    )
    return agg.select(
        "key",
        "n_total",
        "n_missing",
        "n_null",
        "n_number",
        "n_string",
        "n_array",
        "n_bool",
        roundn(
            (F.col("n_total") - F.col("n_missing")).cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("presence_pct"),
        F.when(kinds > 1, "string_widened")
        .when(F.col("n_number") > 0, "number")
        .when(F.col("n_string") > 0, "string")
        .when(F.col("n_array") > 0, "array")
        .when(F.col("n_bool") > 0, "bool")
        .otherwise("unknown")
        .alias("inferred_type"),
        ((F.col("n_null") > 0) | (F.col("n_missing") > 0)).alias(
            "nullable"
        ),
    ).orderBy("key")


# --------------------------------------------------------------------------
# fn_useragent_parse — User-Agent forensics
# --------------------------------------------------------------------------

#: four UA templates cycled by order key; versions derive from the key
#: so parsing has real variance to recover
_UA_SQL = """
    CASE CAST(o_orderkey % 4 AS BIGINT)
         WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64)'
                     || ' AppleWebKit/537.36 (KHTML, like Gecko) Chrome/'
                     || CAST(100 + o_orderkey % 30 AS {S})
                     || '.0.0.0 Safari/537.36'
         WHEN 1 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 17_'
                     || CAST(o_orderkey % 6 AS {S})
                     || ' like Mac OS X) AppleWebKit/605.1.15'
                     || ' (KHTML, like Gecko) Version/17.'
                     || CAST(o_orderkey % 6 AS {S})
                     || ' Mobile/15E148 Safari/604.1'
         WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:'
                     || CAST(110 + o_orderkey % 15 AS {S})
                     || '.0) Gecko/20100101 Firefox/'
                     || CAST(110 + o_orderkey % 15 AS {S}) || '.0'
         ELSE 'Mozilla/5.0 (compatible; Googlebot/2.1;'
              || ' +http://www.google.com/bot.html)'
    END
"""


@query(
    "fn_useragent_parse",
    oracle=f"""
    WITH built AS (
        SELECT o_orderkey, {_UA_SQL.format(S="VARCHAR")} AS ua
        FROM orders),
    parsed AS (
        SELECT ua,
               CASE WHEN ua LIKE '%Googlebot%' THEN 'googlebot'
                    WHEN ua LIKE '%Firefox/%' THEN 'firefox'
                    WHEN ua LIKE '%Chrome/%' THEN 'chrome'
                    WHEN ua LIKE '%Safari/%' THEN 'safari'
                    ELSE 'other' END AS browser,
               CASE WHEN ua LIKE '%Windows NT%' THEN 'windows'
                    WHEN ua LIKE '%iPhone OS%' THEN 'ios'
                    WHEN ua LIKE '%Linux%' THEN 'linux'
                    ELSE 'other' END AS os,
               ua LIKE '%compatible;%bot%' OR ua LIKE '%Googlebot%'
                   AS is_bot,
               COALESCE(TRY_CAST(REGEXP_EXTRACT(ua,
                   '(Chrome|Firefox|Version|Googlebot)/([0-9]+)', 2)
                   AS BIGINT), 0) AS major
        FROM built)
    SELECT browser, os, is_bot,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(major) AS BIGINT) AS min_major,
           CAST(MAX(major) AS BIGINT) AS max_major,
           CAST(COUNT(DISTINCT major) AS BIGINT) AS n_versions
    FROM parsed
    GROUP BY browser, os, is_bot
    ORDER BY browser, os
    """,
)
def fn_useragent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data tier — USER-AGENT FORENSICS, completing the
    multiformat suite (dates, money, now the web-log string every
    clickstream pipeline must segment): four real UA shapes (Chrome on
    Windows, Safari on iOS, Firefox on Linux, Googlebot) with
    key-derived versions, parsed back to browser family / OS family /
    bot flag / major version by ordered LIKE forensics and one
    product-version regex — then rolled up per (browser, os, bot)
    segment with version-range audits.

    Rule-order is load-bearing and tested: every Chrome UA also says
    "Safari", so the CASE must check Chrome first — the canonical UA
    gotcha, encoded identically in both engines.

    Exactness: versions extract as regex-group INTEGERS; everything
    else is counts — no floats exist.

    100 TB: codegen projection + map-side rollup to a handful of
    segment rows; the bot flag is the row-level filter serving
    `corpus_curation`-style crawl cleaning.

    Reference parity: the reference ingests raw access-log-shaped CSVs
    (`dags/config/pipeline_config.yaml` sources); UA segmentation is
    stage one of any traffic analysis over them.
    """
    orders = load_table(spark, sf_dir, "orders")
    built = orders.selectExpr(
        f"{_UA_SQL.format(S='STRING')} AS ua"
    )
    parsed = built.select(
        F.when(F.col("ua").contains("Googlebot"), "googlebot")
        .when(F.col("ua").contains("Firefox/"), "firefox")
        .when(F.col("ua").contains("Chrome/"), "chrome")
        .when(F.col("ua").contains("Safari/"), "safari")
        .otherwise("other")
        .alias("browser"),
        F.when(F.col("ua").contains("Windows NT"), "windows")
        .when(F.col("ua").contains("iPhone OS"), "ios")
        .when(F.col("ua").contains("Linux"), "linux")
        .otherwise("other")
        .alias("os"),
        (
            (F.col("ua").like("%compatible;%bot%"))
            | F.col("ua").contains("Googlebot")
        ).alias("is_bot"),
        F.coalesce(
            F.expr(
                "TRY_CAST(REGEXP_EXTRACT(ua,"
                " '(Chrome|Firefox|Version|Googlebot)/([0-9]+)', 2)"
                " AS BIGINT)"
            ),
            F.lit(0),
        ).alias("major"),
    )
    return (
        parsed.groupBy("browser", "os", "is_bot")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("major").cast("long").alias("min_major"),
            F.max("major").cast("long").alias("max_major"),
            F.countDistinct("major").cast("long").alias("n_versions"),
        )
        .orderBy("browser", "os")
    )


# ---------------------------------------------------------------------------
# geo_cluster_grid — grid-density clustering (DBSCAN's scale form)
# ---------------------------------------------------------------------------

#: cluster grid resolution per axis (coarser than the density rollup:
#: the closure below is bounded by GRID^2 cells, never by data volume)
_GCL_GRID = 32

#: a cell is DENSE if it holds at least this many customers
_GCL_MINPTS = 2

#: min-label-propagation round cap: pointer jumping collapses a chain of
#: ≤ GRID² = 1024 cells in O(log diameter) rounds, so 40 is never reached
#: on a converging run (hitting it raises NonConvergence)
_GCL_CC_MAX_ITERS = 40


def _gcl_oracle() -> str:
    g, t = _GCL_GRID, _GCL_MINPTS
    return f"""
    WITH RECURSIVE pts AS (
        SELECT c_custkey,
               (-6000 + (c_custkey * 7919 % 12000) + 9000) * {g}
                   // 18000 AS latq,
               (-18000 + (c_custkey * 104729 % 36000) + 18000) * {g}
                   // 36000 AS lonq
        FROM customer),
    dense AS (
        SELECT CAST(latq AS BIGINT) AS latq,
               CAST(lonq AS BIGINT) AS lonq,
               CAST(latq * {g} + lonq AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_pts
        FROM pts GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {t}),
    adj AS (
        SELECT a.cell AS u, b.cell AS v
        FROM dense a JOIN dense b
          ON abs(a.latq - b.latq) <= 1 AND abs(a.lonq - b.lonq) <= 1),
    reach(u, v) AS (
        SELECT cell, cell FROM dense
        UNION
        SELECT r.u, a.v FROM reach r JOIN adj a ON a.u = r.v),
    lbl AS (
        SELECT u AS cell, CAST(MIN(v) AS BIGINT) AS cluster_id
        FROM reach GROUP BY u)
    SELECT l.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(d.n_pts) AS BIGINT) AS n_points,
           CAST(MIN(d.latq) AS BIGINT) AS lat_min,
           CAST(MAX(d.latq) AS BIGINT) AS lat_max,
           CAST(MIN(d.lonq) AS BIGINT) AS lon_min,
           CAST(MAX(d.lonq) AS BIGINT) AS lon_max
    FROM lbl l JOIN dense d ON d.cell = l.cell
    GROUP BY l.cluster_id
    ORDER BY n_points DESC, cluster_id
    """


@query("geo_cluster_grid", oracle=_gcl_oracle())
def geo_cluster_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO family — GRID-DENSITY CLUSTERING, the scale-shaped DBSCAN:
    quantize points into the {g}×{g} integer grid, keep cells with ≥
    {t} points (the minPts density gate), merge 8-connected dense
    cells into clusters by transitive closure, and report each
    cluster's cell count, point mass, and bounding box.  This is how
    density clustering actually runs at 100 TB — the cell grid caps
    state at GRID² regardless of data volume, where true DBSCAN's
    ε-neighbor graph grows with the data; `geo_cell_density` ranks
    the raw cells, this key CONNECTS them.

    Merging is min-label propagation WITH pointer jumping (the dedup
    family's connected_components operator: a bounded fixpoint with one
    emptiness probe per round, ≤ {r} rounds) on Spark vs a
    recursive-CTE fixpoint closure in the oracle — different
    algorithms, one hash; state stays |cells| rows, never the V²
    reach pairs a closure-by-squaring materializes (that form measured
    66 s at sf0.1 where nearly every cell is dense; this one ~4 s).

    Exactness: coordinates are exact integer centi-degrees; binning is
    integer DIV; everything downstream is integer set algebra.

    100 TB: ONE map-side-combined aggregate collapses the fact table
    to ≤ {g}² dense cells; the neighbor join and closure run on that
    grid-bounded relation only.
    """
    g, t = _GCL_GRID, _GCL_MINPTS
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.expr(
            f"(-6000 + (c_custkey * 7919 % 12000) + 9000) * {g}"
            " DIV 18000"
        ).alias("latq"),
        F.expr(
            f"(-18000 + (c_custkey * 104729 % 36000) + 18000) * {g}"
            " DIV 36000"
        ).alias("lonq"),
    )
    dense = (
        pts.groupBy("latq", "lonq")
        .agg(F.count("*").cast("long").alias("n_pts"))
        .where(F.col("n_pts") >= t)
        .select(
            F.col("latq").cast("long").alias("latq"),
            F.col("lonq").cast("long").alias("lonq"),
            (F.col("latq") * g + F.col("lonq")).cast("long").alias("cell"),
            "n_pts",
        )
        .localCheckpoint(eager=False)  # adjacency + rollup consumers
    )
    # 8-connectivity as an EQUI-join: each dense cell probes its 9
    # (Δlat, Δlon) ∈ {-1,0,1}² neighbor coordinates and hash-joins the
    # dense relation on them — O(9·|cells|) pairs instead of the
    # |cells|² nested-loop the abs()-predicate form plans (the same
    # pair set: coordinates are unique per cell, so each neighbor
    # match materializes exactly once)
    probe = dense.select(
        F.col("cell").alias("u"),
        F.explode(
            F.expr(
                "transform(sequence(0, 8), i -> struct("
                "latq + i div 3 - 1 AS latq, lonq + i % 3 - 1 AS lonq))"
            )
        ).alias("nb"),
    ).select("u", F.col("nb.latq").alias("latq"), F.col("nb.lonq").alias("lonq"))
    adj = probe.join(
        dense.select("latq", "lonq", F.col("cell").alias("v")),
        ["latq", "lonq"],
    ).select("u", "v")
    # exact min-label propagation with pointer jumping via the dedup
    # family's proven connected_components operator: state stays
    # |cells| rows per round — never the V^2 reach pairs a
    # closure-by-squaring materializes (measured 66 s -> ~4 s at sf0.1
    # where nearly every grid cell is dense)
    from gcp_de_data_pipeline_cc_spark.operators.dedup import (
        connected_components,
    )

    cc = connected_components(
        adj.where(F.col("u") < F.col("v")),
        src="u",
        dst="v",
        max_iterations=_GCL_CC_MAX_ITERS,
        pointer_jump=True,
    ).select(
        F.col("node").alias("cell"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    # dense cells with no dense neighbor never enter the edge list:
    # they are their own singleton clusters
    isolated = dense.join(cc, "cell", "left_anti").select(
        "cell", F.col("cell").cast("long").alias("cluster_id")
    )
    lbl = cc.unionByName(isolated)
    return (
        lbl.join(dense, "cell")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n_pts").cast("long").alias("n_points"),
            F.min("latq").cast("long").alias("lat_min"),
            F.max("latq").cast("long").alias("lat_max"),
            F.min("lonq").cast("long").alias("lon_min"),
            F.max("lonq").cast("long").alias("lon_max"),
        )
        .orderBy(F.desc("n_points"), "cluster_id")
    )


geo_cluster_grid.__doc__ = geo_cluster_grid.__doc__.format(
    g=_GCL_GRID, t=_GCL_MINPTS, r=_GCL_CC_MAX_ITERS
)


# ---------------------------------------------------------------------------
# qc_geo_validity — coordinate sanity battery (r6j wave)
# ---------------------------------------------------------------------------

#: corruption coin: ~6% of rows get one of four planted defects
_GEOV_MODE_SQL = (
    "CAST(CAST('0x' || SUBSTR(md5('geov:' || CAST(c_custkey AS VARCHAR)),"
    " 1, 2) AS BIGINT) AS BIGINT)"
)


@query(
    "qc_geo_validity",
    oracle=f"""
    WITH base AS (
        SELECT c_custkey,
               -6000 + (c_custkey * 7919 % 12000) AS lat0,
               -18000 + (c_custkey * 104729 % 36000) AS lon0,
               {_GEOV_MODE_SQL} % 64 AS m
        FROM customer),
    pts AS (
        SELECT c_custkey,
               CASE WHEN m = 0 THEN 9100 + (c_custkey % 500)
                    WHEN m = 2 THEN 0
                    WHEN m = 3 THEN lon0
                    ELSE lat0 END AS lat,
               CASE WHEN m = 1 THEN -18100 - (c_custkey % 500)
                    WHEN m = 2 THEN 0
                    WHEN m = 3 THEN lat0 END AS lon_raw,
               CASE WHEN m = 1 OR m = 2 OR m = 3 THEN TRUE
                    ELSE FALSE END AS lon_set,
               lon0, m
        FROM base),
    coords AS (
        SELECT c_custkey,
               lat,
               CASE WHEN lon_set THEN lon_raw ELSE lon0 END AS lon
        FROM pts),
    classed AS (
        SELECT CASE
            WHEN lat = 0 AND lon = 0 THEN 'null_island'
            WHEN abs(lat) > 9000 AND abs(lat) <= 18000
                 AND abs(lon) <= 9000 THEN 'swapped_axes'
            WHEN abs(lat) > 9000 THEN 'lat_out_of_range'
            WHEN abs(lon) > 18000 THEN 'lon_out_of_range'
            ELSE 'valid' END AS verdict
        FROM coords),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM classed)
    SELECT c.verdict,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((COUNT(*) * 1000000) // t.n_total AS BIGINT) AS ppm
    FROM classed c, tot t
    GROUP BY c.verdict, t.n_total
    ORDER BY c.verdict
    """,
)
def qc_geo_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO-QC tier — the COORDINATE SANITY BATTERY every location feed
    needs before the geo keys run: range checks (|lat| ≤ 90°,
    |lon| ≤ 180°), the NULL-ISLAND trap ((0,0) — where geocoder
    failures silently land), and the SWAPPED-AXES heuristic
    (|lat| > 90° but within 180° while |lon| fits a latitude — the
    classic column-order bug, distinguishable from plain corruption
    and FIXABLE by un-swapping).  Rule ORDER is load-bearing and
    mirrors triage priority: null-island, then swapped (recoverable),
    then plain out-of-range.  The channel plants all four defects at
    known md5 rates so every class is always exercised.

    Exactness: integer centi-degrees end-to-end; shares are one
    integer-ppm DIV.

    100 TB: pure projection + map-side rollup to ≤ 5 verdict rows.

    Reference parity: the reference's staging QC gates per-table
    validity (dags/pipeline_orchestration_dag.py:121-141); this is
    that gate for coordinate columns.
    """
    cust = load_table(spark, sf_dir, "customer")
    m = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("geov:"), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % 64
    )
    base = cust.select(
        "c_custkey",
        (F.lit(-6000) + (F.col("c_custkey") * 7919 % 12000)).alias("lat0"),
        (F.lit(-18000) + (F.col("c_custkey") * 104729 % 36000)).alias(
            "lon0"
        ),
        m.alias("m"),
    )
    lat = (
        F.when(F.col("m") == 0, F.lit(9100) + F.col("c_custkey") % 500)
        .when(F.col("m") == 2, F.lit(0))
        .when(F.col("m") == 3, F.col("lon0"))
        .otherwise(F.col("lat0"))
    )
    lon = (
        F.when(
            F.col("m") == 1, F.lit(-18100) - F.col("c_custkey") % 500
        )
        .when(F.col("m") == 2, F.lit(0))
        .when(F.col("m") == 3, F.col("lat0"))
        .otherwise(F.col("lon0"))
    )
    coords = base.select(lat.alias("lat"), lon.alias("lon"))
    verdict = (
        F.when((F.col("lat") == 0) & (F.col("lon") == 0), "null_island")
        .when(
            (F.abs("lat") > 9000)
            & (F.abs("lat") <= 18000)
            & (F.abs("lon") <= 9000),
            "swapped_axes",
        )
        .when(F.abs("lat") > 9000, "lat_out_of_range")
        .when(F.abs("lon") > 18000, "lon_out_of_range")
        .otherwise("valid")
    )
    classed = coords.select(verdict.alias("verdict"))
    classed = classed.localCheckpoint(eager=False)  # rollup + total
    tot = classed.agg(F.count("*").cast("long").alias("n_total"))
    return (
        classed.groupBy("verdict")
        .agg(F.count("*").cast("long").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "verdict",
            "n",
            F.expr("CAST((n * 1000000) DIV n_total AS BIGINT)").alias(
                "ppm"
            ),
        )
        .orderBy("verdict")
    )


# ---------------------------------------------------------------------------
# fn_geohash — the standard spatial bucketing key (r5i wave)
# ---------------------------------------------------------------------------

#: geohash base32 alphabet (no a/i/l/o) — a shared literal
_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"

#: 6 chars = 30 bits = 15 lon + 15 lat (geohash interleaves lon-first)
_GH_BITS = 15


def _geohash_oracle() -> str:
    # 3-char prefix cell: 15 bits = 8 lon + 7 lat -> cell spans
    # 360/2^8 = 1.40625 deg = 140.625 centideg on both axes
    chars = " || ".join(
        f"SUBSTR('{_GH_ALPHA}', CAST(((g >> {25 - 5 * j}) & 31)"
        f" AS INT) + 1, 1)"
        for j in range(6)
    )
    return f"""
    WITH pts AS (
        SELECT c_custkey,
               -6000 + (c_custkey * 7919 % 12000) AS lat_c,
               -18000 + (c_custkey * 104729 % 36000) AS lon_c
        FROM customer),
    q AS (
        SELECT c_custkey, lat_c, lon_c,
               (lat_c + 9000) * {1 << _GH_BITS} // 18000 AS latq,
               (lon_c + 18000) * {1 << _GH_BITS} // 36000 AS lonq
        FROM pts),
    inter AS (
        SELECT c_custkey, lat_c, lon_c,
               CAST(list_sum(list_transform(range(0, {_GH_BITS}),
                   i -> (((lonq >> ({_GH_BITS - 1} - i)) & 1)
                             << (29 - 2 * i))
                      + (((latq >> ({_GH_BITS - 1} - i)) & 1)
                             << (28 - 2 * i)))) AS BIGINT) AS g
        FROM q),
    gh AS (
        SELECT c_custkey, lat_c, lon_c, ({chars}) AS geohash6
        FROM inter)
    SELECT SUBSTR(geohash6, 1, 3) AS prefix3,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT geohash6) AS BIGINT) AS n_cells6,
           CAST(MAX(lat_c) - MIN(lat_c) AS BIGINT) AS lat_span_cd,
           CAST(MAX(lon_c) - MIN(lon_c) AS BIGINT) AS lon_span_cd,
           (MAX(lat_c) - MIN(lat_c)) < 141
               AND (MAX(lon_c) - MIN(lon_c)) < 141 AS span_ok
    FROM gh
    GROUP BY 1
    ORDER BY n_customers DESC, prefix3
    LIMIT 20
    """


@query("fn_geohash", oracle=_geohash_oracle())
def fn_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO family — GEOHASH proper (Niemeyer base32 bit-interleave),
    the standard spatial bucketing key geo_cell_density's docstring
    points at: quantize lat/lon to 15 fractional bits each, interleave
    lon-first into a 30-bit code, render 6 base32 chars.  The PREFIX
    property is the whole point — a 3-char prefix IS a coarser cell,
    so co-partitioning a spatial join on substr(geohash, 1, k) gives a
    tunable bucket-join ladder with one sort key; the output verifies
    it structurally: per 3-char prefix, every member point must sit
    inside that prefix cell (lat/lon spans < 140.625 centideg,
    emitted as ``span_ok``), alongside the density rollup.

    Exactness: coordinates are the geo family's deterministic integer
    centi-degrees; quantization is pure integer multiply-DIV; the
    interleave is an integer bit fold (sequence fold in Spark,
    list_transform sum in DuckDB — same bits); base32 chars index a
    shared alphabet literal.  No float anywhere.

    100 TB: encoding is projection-side (codegen bit ops); the rollup
    is one map-side-combined groupBy on an 8-byte derived key — and
    the encode column is precisely what a bucketed spatial-join or
    Z-order layout would sort by."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (F.lit(-6000) + (F.col("c_custkey") * 7919 % 12000)).alias("lat_c"),
        (F.lit(-18000) + (F.col("c_custkey") * 104729 % 36000)).alias(
            "lon_c"
        ),
    )
    q = pts.select(
        "c_custkey",
        "lat_c",
        "lon_c",
        F.expr(f"(lat_c + 9000) * {1 << _GH_BITS} DIV 18000").alias("latq"),
        F.expr(f"(lon_c + 18000) * {1 << _GH_BITS} DIV 36000").alias("lonq"),
    )
    inter = q.select(
        "c_custkey",
        "lat_c",
        "lon_c",
        F.expr(
            f"aggregate(sequence(0, {_GH_BITS - 1}), 0L, (acc, i) -> acc"
            f" + shiftleft(shiftright(lonq, {_GH_BITS - 1} - i) % 2,"
            f" 29 - 2 * i)"
            f" + shiftleft(shiftright(latq, {_GH_BITS - 1} - i) % 2,"
            f" 28 - 2 * i))"
        ).alias("g"),
    )
    # base32 render: substr into the shared alphabet per 5-bit group
    code = F.concat(
        *[
            F.expr(
                f"substr('{_GH_ALPHA}', CAST(((g >> {25 - 5 * j}) & 31)"
                f" AS INT) + 1, 1)"
            )
            for j in range(6)
        ]
    )
    gh = inter.select("c_custkey", "lat_c", "lon_c", code.alias("geohash6"))
    return (
        gh.groupBy(F.substring("geohash6", 1, 3).alias("prefix3"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.countDistinct("geohash6").cast("long").alias("n_cells6"),
            (F.max("lat_c") - F.min("lat_c"))
            .cast("long")
            .alias("lat_span_cd"),
            (F.max("lon_c") - F.min("lon_c"))
            .cast("long")
            .alias("lon_span_cd"),
            (
                ((F.max("lat_c") - F.min("lat_c")) < 141)
                & ((F.max("lon_c") - F.min("lon_c")) < 141)
            ).alias("span_ok"),
        )
        .orderBy(F.desc("n_customers"), "prefix3")
        .limit(20)
    )
