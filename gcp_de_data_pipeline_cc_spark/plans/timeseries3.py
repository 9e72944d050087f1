"""Time-series wave 3: CUSUM changepoint localization, Bollinger-band
breakout monitoring, and the event-transition Markov matrix.

Completes the monitoring tier around ts_seasonal_baseline /
anomaly_zscore / anomaly_mad with the three remaining standing tools:

- **ts_cusum** — WHERE did the level shift? zscore/MAD gates flag
  single outliers; CUSUM's running sum of deviations peaks at the
  changepoint of a sustained mean shift. Computed in a fully exact
  integer form: S_k = Σ_{i<=k}(x_i − μ) scaled by n gives
  n·prefix_k − k·total — int64 arithmetic, no division, so the argmax
  day is engine-exact (the float mean never appears);
- **ts_bollinger** — the rolling ±2σ envelope with breakout flags; the
  per-series volatility-adaptive cousin of the fixed-threshold gates.
  Rolling variance runs in exact DECIMAL(38,0) power sums
  (n·Σx² − (Σx)² — the ts_twap discipline), converted to double only
  at the final σ;
- **markov_transitions** — P(next event type | current) per user
  journey: the behavioral fingerprint funnel_conversion and
  sessionize_path read slices of, here as the full first-order
  transition matrix with row-stochastic law tested.

Reference parity: extends the events-feed curation tier
(dags/pipeline_orchestration_dag.py:101-143) with the monitoring
queries its curated output feeds, per the extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query

#: Bollinger rolling window (trailing days, current inclusive)
_BOLL_W = 7

#: band half-width in standard deviations
_BOLL_K = 2


@query(
    "ts_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2),
    st AS (
        SELECT event_type,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total,
               day,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS k,
               CAST(SUM(cents) OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT)
                   AS prefix
        FROM daily),
    scored AS (
        SELECT event_type, n, day,
               n * prefix - k * total AS s_scaled,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY ABS(n * prefix - k * total) DESC, day ASC)
                   AS pick
        FROM st)
    SELECT event_type, day AS changepoint_day,
           CAST(s_scaled AS BIGINT) AS s_scaled,
           {sql_roundn(
               "ABS(s_scaled) * 1.0e0 / (n * 100.0e0)", 2
           )} AS cusum_stat
    FROM scored WHERE pick = 1
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — CUSUM changepoint localization per series: the
    day where the running sum of deviations from the series mean peaks
    in magnitude is the maximum-likelihood location of a sustained mean
    shift. The whole statistic runs scaled by n —
    ``S'_k = n·prefix_k − k·total`` — so it is EXACT int64 arithmetic
    (the mean μ = total/n never materializes as a float) and the argmax
    day can never flip across engines; ties break to the earliest day.

    100 TB: events collapse to (series, day) first (map-side combined),
    so the windows run over day-cardinality rows per series; one window
    shuffle serves prefix, count, total, and the pick. Magnitudes:
    n·prefix stays < 2⁶³ up to ~10⁴ days of ~10¹⁴ daily cents; past
    that, lift s_scaled into DECIMAL(38,0) (the ts_twap discipline)
    with the same shape.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("timestamp").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    series = Window.partitionBy("event_type")
    ordered = series.orderBy("day")
    st = daily.select(
        "event_type",
        F.count("*").over(series).alias("n"),
        F.sum("cents").over(series).alias("total"),
        "day",
        F.row_number().over(ordered).cast("long").alias("k"),
        F.sum("cents").over(ordered).alias("prefix"),
    )
    s = (F.col("n") * F.col("prefix") - F.col("k") * F.col("total")).alias(
        "s_scaled"
    )
    scored = st.select(
        "event_type", "n", "day", s
    ).withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("s_scaled")).desc(), F.col("day").asc()
            )
        ),
    )
    return scored.filter(F.col("pick") == 1).select(
        "event_type",
        F.col("day").alias("changepoint_day"),
        F.col("s_scaled").cast("long").alias("s_scaled"),
        roundn(
            F.abs(F.col("s_scaled")) * F.lit(1.0) / (F.col("n") * F.lit(100.0)),
            2,
        ).alias("cusum_stat"),
    )


@query(
    "ts_bollinger",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2),
    win AS (
        SELECT event_type, day, cents,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
               SUM(CAST(cents AS DECIMAL(38,0))) OVER w AS s1,
               SUM(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) OVER w AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_BOLL_W - 1} PRECEDING AND CURRENT ROW)),
    bands AS (
        SELECT event_type, day, cents, n_w,
               CAST(s1 AS DOUBLE) / n_w AS mean_c,
               SQRT(CAST(n_w * s2 - s1 * s1 AS DOUBLE)
                    / (n_w * (n_w - 1.0e0))) AS sd_c
        FROM win WHERE n_w = {_BOLL_W})
    SELECT event_type, day, CAST(cents AS BIGINT) AS cents,
           {sql_roundn("mean_c / 100.0e0", 2)} AS band_mid,
           {sql_roundn(f"(mean_c + {_BOLL_K}.0e0 * sd_c) / 100.0e0", 2)}
               AS band_upper,
           {sql_roundn(f"(mean_c - {_BOLL_K}.0e0 * sd_c) / 100.0e0", 2)}
               AS band_lower,
           (cents > mean_c + {_BOLL_K}.0e0 * sd_c
            OR cents < mean_c - {_BOLL_K}.0e0 * sd_c) AS is_breakout
    FROM bands
    """,
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — Bollinger envelope: trailing-7-day rolling
    mean ± 2σ per series with breakout flags, emitted only once
    the window is full (a partial window's σ is noise, not a band).
    The volatility-adaptive alert the fixed-threshold zscore/MAD gates
    can't express for heteroscedastic series.

    Rolling variance comes from exact DECIMAL(38,0) power sums —
    ``n·Σx² − (Σx)²`` is an exact integer, order-independent, converted
    to double only inside the final sqrt — so band edges are identical
    across engines and the breakout comparison (against the UNrounded
    band) can't flip. Rounding happens at projection only.

    100 TB: same profile as ts_cusum — daily pre-aggregation first,
    then one bounded-frame window shuffle per series; frame state is
    7 rows of three numbers.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("timestamp").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_BOLL_W - 1), 0)
    )
    dec = F.col("cents").cast("decimal(38,0)")
    win = daily.select(
        "event_type",
        "day",
        "cents",
        F.count("*").over(w).cast("long").alias("n_w"),
        F.sum(dec).over(w).alias("s1"),
        F.sum(dec * dec).over(w).alias("s2"),
    ).filter(F.col("n_w") == _BOLL_W)
    mean_c = F.col("s1").cast("double") / F.col("n_w")
    sd_c = F.sqrt(
        (F.col("n_w") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n_w") * (F.col("n_w") - F.lit(1.0)))
    )
    upper = mean_c + F.lit(float(_BOLL_K)) * sd_c
    lower = mean_c - F.lit(float(_BOLL_K)) * sd_c
    return win.select(
        "event_type",
        "day",
        "cents",
        roundn(mean_c / F.lit(100.0), 2).alias("band_mid"),
        roundn(upper / F.lit(100.0), 2).alias("band_upper"),
        roundn(lower / F.lit(100.0), 2).alias("band_lower"),
        ((F.col("cents") > upper) | (F.col("cents") < lower)).alias(
            "is_breakout"
        ),
    )


@query(
    "markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
    trans AS (
        SELECT event_type AS prev_type, next_type,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2),
    tot AS (
        SELECT prev_type, SUM(n_trans) AS n_from
        FROM trans GROUP BY 1)
    SELECT t.prev_type, t.next_type, t.n_trans,
           CAST(tot.n_from AS BIGINT) AS n_from,
           {sql_roundn("t.n_trans * 1.0e0 / tot.n_from", 6)} AS p
    FROM trans t JOIN tot USING (prev_type)
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — first-order Markov transition matrix over user
    event journeys: for each user's (ts, event_id)-ordered stream, count
    consecutive (current → next) type pairs and normalize per source
    type into row-stochastic probabilities. funnel_conversion asks one
    path's question; this is the whole behavioral fingerprint, the
    input to next-action models and to drift diffs between cohorts.

    100 TB: the LEAD window shuffles (user_id, ts, type) once — the
    journey relation, not raw payloads; the pair rollup then collapses
    to a |types|² matrix (map-side combined), and the per-source
    normalizer re-aggregates that constant-size table. Deterministic
    by the unique (ts, event_id) order.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"), "next_type"
        )
        .agg(F.count("*").alias("n_trans"))
    )
    # per-source normalizer as a window over the |types|^2 matrix — a
    # tot-join formulation makes the LEAD pass a second consumer and
    # re-runs the event window (plan-census lesson)
    n_from = F.sum("n_trans").over(Window.partitionBy("prev_type"))
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        n_from.cast("long").alias("n_from"),
        roundn(F.col("n_trans") * F.lit(1.0) / n_from, 6).alias("p"),
    )


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events),
    attrib AS (
        SELECT COALESCE(channel, 'direct') AS channel,
               CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
        FROM tagged WHERE event_type = 'purchase'),
    tot AS (SELECT COUNT(*) AS n FROM attrib)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           {sql_roundn("COUNT(*) * 1.0e0 / tot.n", 6)} AS share
    FROM attrib CROSS JOIN tot
    GROUP BY channel, tot.n
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — last-touch marketing attribution: each purchase is
    credited to the user's most recent PRECEDING non-purchase event type
    (purchases with no prior touch credit 'direct'), with purchase count,
    revenue in exact cents, and share per channel. The counterpart query
    to funnel_conversion: the funnel asks "did the path complete?", this
    asks "which touchpoint gets the credit?".

    100 TB: one window shuffle on user_id carrying (ts, event_id, type,
    value) — the IGNORE NULLS last_value runs in a single pass over each
    user's ordered journey with O(1) state; the channel rollup collapses
    to |event types| rows, map-side combined. Deterministic by the
    unique (ts, event_id) order.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    tagged = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("channel"),
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    attrib = tagged.filter(F.col("event_type") == "purchase").select(
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        cents.alias("cents"),
    )
    per = attrib.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )
    # share normalizer as a window over the |channels|-row rollup — the
    # one-row-total crossJoin made the window pass run twice
    tot = F.sum("n_purchases").over(Window.partitionBy())
    return per.select(
        "channel",
        "n_purchases",
        "revenue_cents",
        roundn(F.col("n_purchases") * F.lit(1.0) / tot, 6).alias("share"),
    )


#: each event occupies a 5-minute activity interval for the
#: concurrency sweep — the "active session" horizon
_CONC_WIN_MIN = 5


@query(
    "ts_concurrency",
    oracle=f"""
    WITH iv AS (
        SELECT event_type, ts AS s,
               ts + INTERVAL {_CONC_WIN_MIN} MINUTE AS e
        FROM events),
    deltas AS (
        SELECT event_type, s AS at, 1 AS d FROM iv
        UNION ALL
        SELECT event_type, e, -1 FROM iv),
    swept AS (
        SELECT event_type, at, d,
               SUM(d) OVER (PARTITION BY event_type
                            ORDER BY at, d) AS conc
        FROM deltas)
    SELECT event_type,
           CAST(DATE_TRUNC('day', at) AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM swept
    GROUP BY 1, 2
    """,
)
def ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — peak concurrency by sweep line: each event opens
    a 5-minute activity interval; +1/−1 deltas sorted by (instant,
    delta) and prefix-summed give the live concurrency at every
    boundary, rolled up to the per-day peak per series. THE capacity
    question (how many sessions at once?) that no windowed rollup
    answers — tumbling counts events per bucket, not simultaneous
    overlap. Interval ends sort BEFORE starts at the same instant
    (delta ascending), making intervals half-open [s, e) so a
    back-to-back handoff never double-counts; because both engines'
    default window frame is RANGE (peers included), the prefix sum at
    any instant is tie-order independent — deterministic without a
    unique tiebreak.

    100 TB: the sweep is one window shuffle per series carrying
    (instant, ±1); the day rollup map-side combines. A single series
    too hot for one reducer splits by day with per-day offsets carried
    forward (two-phase scan — the agg_incremental pattern), documented
    here rather than built because the per-series volume bound makes
    one reducer per series the right local plan.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_CONC_WIN_MIN} MINUTES")).alias(
            "e"
        ),
    )
    deltas = iv.select(
        "event_type", F.col("s").alias("at"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("event_type", F.col("e").alias("at"), F.lit(-1).alias("d"))
    )
    swept = deltas.select(
        "event_type",
        "at",
        F.sum("d")
        .over(Window.partitionBy("event_type").orderBy("at", "d"))
        .alias("conc"),
    )
    return swept.groupBy(
        "event_type",
        F.date_trunc("day", "at").cast("timestamp").alias("day"),
    ).agg(F.max("conc").cast("long").alias("peak_concurrency"))


@query(
    "ts_interarrival",
    oracle=f"""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id))
                   AS gap_us
        FROM events)
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           {sql_roundn("AVG(gap_us / 1.0e6)", 3)} AS mean_gap_s,
           {sql_roundn("quantile_cont(gap_us, 0.5) / 1.0e6", 3)}
               AS p50_gap_s,
           {sql_roundn("quantile_cont(gap_us, 0.9) / 1.0e6", 3)}
               AS p90_gap_s,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — inter-arrival cadence per series: the
    microsecond-exact gap between consecutive events (LAG over the
    unique (ts, event_id) order), summarized as mean / exact p50 / p90
    / max. The feed's heartbeat profile: qc_freshness asks "is the
    newest record recent?"; this characterizes the arrival process
    itself — a p90 gap that doubles flags upstream batching or
    throttling long before freshness alarms.

    100 TB: one LAG window shuffle per series carrying (ts, event_id);
    gaps are exact int64 microseconds (epoch_us on both engines), so
    only the final summary divides into float. Exact percentiles
    re-shuffle per-series gap lists; the approx_percentile swap for
    billion-event series is the agg_percentile_approx trade.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.unix_micros("ts")
        - F.unix_micros(
            F.lag("ts").over(
                Window.partitionBy("event_type").orderBy("ts", "event_id")
            )
        )
    ).alias("gap_us")
    gaps = ev.select("event_type", gap).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        roundn(F.avg(F.col("gap_us") / F.lit(1.0e6)), 3).alias("mean_gap_s"),
        roundn(
            F.percentile(F.col("gap_us"), F.lit(0.5)) / F.lit(1.0e6), 3
        ).alias("p50_gap_s"),
        roundn(
            F.percentile(F.col("gap_us"), F.lit(0.9)) / F.lit(1.0e6), 3
        ).alias("p90_gap_s"),
        F.max("gap_us").alias("max_gap_us"),
    )


@query(
    "ts_calendar_heatmap",
    oracle=f"""
    SELECT CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                AS BIGINT) AS value_cents,
           (EXTRACT(isodow FROM ts) >= 6) AS is_weekend
    FROM events
    GROUP BY 1, 2, 5
    """,
)
def ts_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — the (day-of-week × hour) activity heatmap:
    event count and exact-cents volume per calendar cell with a
    weekend flag — the load-profile matrix behind capacity planning
    and anomaly baselining (ts_seasonal_baseline assumes exactly the
    weekly periodicity this makes visible). ISO day numbering
    (Mon=1..Sun=7) on both engines: Spark's ``dayofweek`` is
    Sun=1-based, so the portable form is ``(dayofweek+5) % 7 + 1``.

    100 TB: a single scan-side projection into a 7×24-cell rollup,
    map-side combined — the cheapest query in the catalog regardless
    of feed size.
    """
    ev = load_table(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return ev.groupBy(
        iso_dow.alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        (iso_dow >= 6).alias("is_weekend"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents).alias("value_cents"),
    ).select("dow", "hour", "n_events", "value_cents", "is_weekend")


@query(
    "ts_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               user_id
        FROM events),
    spine AS (SELECT DISTINCT day FROM ud),
    joined AS (
        SELECT s.day, u.user_id,
               DATE_DIFF('day', u.day, s.day) AS age
        FROM spine s JOIN ud u
          ON u.day <= s.day
         AND u.day > s.day - INTERVAL 28 DAY)
    SELECT day,
           CAST(COUNT(DISTINCT CASE WHEN age < 1 THEN user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN age < 7 THEN user_id END)
                AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM joined
    GROUP BY day
    """,
)
def ts_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — DAU / WAU / MAU: per day, distinct active users
    in the trailing 1 / 7 / 28-day windows. THE product topline, and a
    genuinely windowed-distinct computation (win_count_distinct's
    first-occurrence trick only works for unbounded running windows —
    a trailing window un-counts users whose last activity aged out, so
    the rewrite doesn't apply).

    100 TB: activity collapses to distinct (day, user) FIRST (map-side
    combined; ~28× smaller than raw events at these densities); the
    28-day band join against the broadcast day spine fans each activity
    row out ≤28× — bounded by the WINDOW, not the data; the per-day
    conditional distincts then re-key by day. For billion-user feeds,
    swap the exact distinct for per-day HLL sketches merged over the
    trailing window (sketch_hll_rollup shows the merge) — the
    documented approx tier.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").cast("timestamp").alias("day"), "user_id"
    ).distinct()
    spine = ud.select("day").distinct()
    s, u = spine.alias("s"), ud.alias("u")
    age = F.datediff(F.col("s.day"), F.col("u.day"))
    joined = u.join(
        F.broadcast(s),
        (F.col("u.day") <= F.col("s.day"))
        & (F.col("u.day") > F.col("s.day") - F.expr("INTERVAL 28 DAYS")),
    ).select(F.col("s.day").alias("day"), "user_id", age.alias("age"))
    return joined.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("age") < 1, F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(F.col("age") < 7, F.col("user_id"))
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )


@query(
    "feature_overlap_matrix",
    oracle=f"""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM tu GROUP BY 1),
    pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT type_a, type_b, n_both,
           sa.n_users AS n_a, sb.n_users AS n_b,
           {sql_roundn(
               "n_both * 1.0e0 / (sa.n_users + sb.n_users - n_both)", 6
           )} AS user_jaccard
    FROM pair
    JOIN sizes sa ON sa.event_type = pair.type_a
    JOIN sizes sb ON sb.event_type = pair.type_b
    """,
)
def feature_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — feature-audience overlap: pairwise distinct-user
    Jaccard between event types — which features share an audience and
    which segment it. The adjacency input to bundling/cross-promotion
    decisions, and the user-set analogue of market_basket's order-level
    lift. Canonical type_a < type_b orientation.

    100 TB: activity collapses to distinct (type, user) first; the
    self-join keys on user_id, so candidate work is Σ C(types_per_
    user, 2) — bounded by the TYPE fan-out per user (≤ |types|²/2 per
    user), never |users|²; sizes broadcast into the |types|²-row
    metric join.
    """
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a, b = tu.alias("a"), tu.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pair.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            roundn(
                F.col("n_both")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("user_jaccard"),
        )
    )


@query(
    "ts_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2),
    cum1 AS (
        SELECT event_type, day,
               CAST(SUM(cents) OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS c
        FROM daily),
    cum AS (
        SELECT event_type, day, c,
               CAST(MAX(c) OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS peak
        FROM cum1),
    scored AS (
        SELECT event_type, day, peak - c AS dd,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY peak - c DESC, day ASC) AS pick
        FROM cum)
    SELECT event_type,
           day AS trough_day,
           CAST(dd AS BIGINT) AS max_drawdown_cents,
           {sql_roundn("dd / 100.0e0", 2)} AS max_drawdown
    FROM scored WHERE pick = 1
    """,
)
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — maximum drawdown: the deepest peak-to-trough fall
    of the cumulative daily series, with the trough day (earliest on
    ties). The risk counterpart of ts_cusum — CUSUM localizes a mean
    SHIFT relative to the whole series; drawdown measures the worst
    excursion relative to the RUNNING PEAK, which is what a budget or
    inventory position actually experiences. Exact int64 cents
    throughout: running sum, running max-of-running-sum, and the
    argmax are all integer window arithmetic — no float can flip the
    day.

    100 TB: daily pre-aggregation first, then one window shuffle per
    series carries running sum, running peak (a window over a window
    on the SAME partitioning — one exchange), and the pick.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("timestamp").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    cum = daily.select(
        "event_type",
        "day",
        F.sum("cents").over(w).alias("c"),
    ).select(
        "event_type",
        "day",
        (F.max("c").over(w) - F.col("c")).alias("dd"),
    )
    scored = cum.withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("dd"), F.asc("day")
            )
        ),
    )
    return scored.filter(F.col("pick") == 1).select(
        "event_type",
        F.col("day").alias("trough_day"),
        F.col("dd").cast("long").alias("max_drawdown_cents"),
        roundn(F.col("dd") / F.lit(100.0), 2).alias("max_drawdown"),
    )


@query(
    "user_behavior_entropy",
    oracle=f"""
    WITH cnt AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    shared AS (
        SELECT user_id, event_type, n,
               CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS tot,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY n DESC, event_type ASC) AS rnk
        FROM cnt)
    SELECT user_id,
           CAST(MAX(tot) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           MAX(CASE WHEN rnk = 1 THEN event_type END) AS dominant_type,
           {sql_roundn(
               "-SUM((n * 1.0e0 / tot) * LN(n * 1.0e0 / tot))", 4
           )} AS entropy
    FROM shared
    GROUP BY user_id
    """,
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — behavioral diversity per user: Shannon entropy of
    the user's event-type distribution plus the dominant type. Entropy
    0 = single-behavior user (bot-like or single-feature), ln(|types|)
    = uniform explorer — the one-number behavioral segmentation
    feature next to RFM's value segmentation, and the per-entity
    analogue of corpus-level text_entropy. Deterministic dominant-type
    tie-break (count DESC, type ASC).

    100 TB: the (user, type) rollup map-side combines; shares,
    totals, and the dominant pick are windows over that rollup (≤
    |types| rows per user — the market_basket one-pass discipline);
    the final per-user rollup re-keys the same relation. Entropy terms
    use the identical p·ln p expression tree on both engines, rounded
    at projection.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w_u = Window.partitionBy("user_id")
    shared = cnt.select(
        "user_id",
        "event_type",
        "n",
        F.sum("n").over(w_u).alias("tot"),
        F.row_number()
        .over(w_u.orderBy(F.desc("n"), F.asc("event_type")))
        .alias("rnk"),
    )
    p = F.col("n") * F.lit(1.0) / F.col("tot")
    return shared.groupBy("user_id").agg(
        F.max("tot").cast("long").alias("n_events"),
        F.count("*").alias("n_types"),
        F.max(
            F.when(F.col("rnk") == 1, F.col("event_type"))
        ).alias("dominant_type"),
        roundn(-F.sum(p * F.log(p)), 4).alias("entropy"),
    )


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH first_w AS (
        SELECT user_id,
               MIN(DATE_TRUNC('week', ts)) AS cohort_week
        FROM events GROUP BY 1),
    purchases AS (
        SELECT f.cohort_week,
               CAST(DATE_DIFF('week', f.cohort_week,
                              DATE_TRUNC('week', e.ts)) AS BIGINT)
                   AS age_weeks,
               e.user_id,
               CAST(FLOOR(e.value * 100.0e0 + 0.5e0) AS BIGINT) AS cents
        FROM events e JOIN first_w f USING (user_id)
        WHERE e.event_type = 'purchase'),
    cells AS (
        SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, age_weeks,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM purchases GROUP BY 1, 2)
    SELECT cohort_week, age_weeks, n_buyers, revenue_cents,
           CAST(SUM(revenue_cents) OVER (
               PARTITION BY cohort_week ORDER BY age_weeks) AS BIGINT)
               AS cum_revenue_cents
    FROM cells
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — the cohort LTV curve: purchase revenue (exact
    cents) by acquisition-week cohort and weeks-since-acquisition, with
    the running cumulative per cohort — cohort_retention's triangle
    with MONEY in the cells instead of presence. The payback-period
    read ("when does a cohort's cumulative revenue cross acquisition
    cost?") comes straight off the cum column.

    100 TB: the acquisition-week relation is a per-user MIN (user
    cardinality, broadcastable into the purchase-filtered scan — the
    cohort_new_returning asymmetry); the (cohort, age) rollup map-side
    combines to a triangle of a few hundred cells; the cumulative is a
    window over THAT triangle. Revenue stays int64 cents end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    first_w = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_w), "user_id")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", "ts"), F.col("cohort_week")
                    )
                    / 7
                )
            ).cast("long").alias("age_weeks"),
            "user_id",
            cents.alias("cents"),
        )
    )
    cells = purchases.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").alias("n_buyers"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return cells.select(
        "cohort_week",
        "age_weeks",
        "n_buyers",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias(
            "cum_revenue_cents"
        ),
    )


#: availability SLO: error share of events must stay under this
_SLO_ERR_RATE = 0.25


@query(
    "sli_error_budget",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1),
    win AS (
        SELECT day, n_events, n_errors,
               CAST(SUM(n_events) OVER w AS BIGINT) AS n7_events,
               CAST(SUM(n_errors) OVER w AS BIGINT) AS n7_errors
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day, n_events, n_errors,
           {sql_roundn("n_errors * 1.0e0 / n_events", 6)} AS day_err_rate,
           {sql_roundn("n7_errors * 1.0e0 / n7_events", 6)} AS rate_7d,
           {sql_roundn(
               f"(n7_errors * 1.0e0 / n7_events) / {_SLO_ERR_RATE}e0", 4
           )} AS budget_burn_7d,
           (n7_errors * 1.0e0 / n7_events > {_SLO_ERR_RATE}e0)
               AS slo_violated
    FROM win
    """,
)
def sli_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — the SRE error-budget view of the feed: daily
    error share, the trailing-7-day rate, burn ratio against the SLO
    (burn > 1 = consuming budget faster than allowed), and the
    violation flag. qc_volume_drift watches VOLUME health; this
    watches QUALITY-of-service health the way an on-call burn-rate
    alert does — the trailing window smooths single-day spikes into an
    actionable signal. (SLO 25% fits the fixture's uniform 5-type mix;
    production SLOs are 0.1%, same query.)

    100 TB: events collapse to a per-day (count, errors) pair first
    (map-side combined, conditional agg — no second scan for the
    error subset); the trailing window runs over day-cardinality rows
    in one ordered pass. The violation comparison uses the UNrounded
    rate with an exact-ratio threshold, identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("timestamp").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(is_err).alias("n_errors"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w).alias("n7_events"),
        F.sum("n_errors").over(w).alias("n7_errors"),
    )
    rate7 = F.col("n7_errors") * F.lit(1.0) / F.col("n7_events")
    return win.select(
        "day",
        "n_events",
        "n_errors",
        roundn(
            F.col("n_errors") * F.lit(1.0) / F.col("n_events"), 6
        ).alias("day_err_rate"),
        roundn(rate7, 6).alias("rate_7d"),
        roundn(rate7 / F.lit(_SLO_ERR_RATE), 4).alias("budget_burn_7d"),
        (rate7 > F.lit(_SLO_ERR_RATE)).alias("slo_violated"),
    )


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (r3h wave)
# ---------------------------------------------------------------------------

#: Holt smoothing constants — both EXACT binary fractions (2^-1, 2^-2)
#: so the state recursion multiplies by exactly-representable doubles
_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.25


@query(
    "ts_holt",
    oracle=f"""
    /* state rides a LIST accumulator [l, b, started], NOT a STRUCT:
       DuckDB's list_reduce evaluates struct_pack fields sequentially
       INTO the accumulator, so a later field expression reading acc.l
       silently sees the already-updated level (verified on this build:
       struct form yields b=0.453125 where the recursion gives 0.71875);
       list_value builds the new state atomically. NO -- comments in
       oracles: downstream tools flatten whitespace. */
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    x AS (SELECT day, cents, CAST(cents AS DOUBLE) AS xv FROM d),
    st AS (
        SELECT day, cents,
            list_reduce(
                list_prepend(
                    list_value(0.0e0, 0.0e0, 0.0e0),
                    (SELECT list(list_value(x2.xv, 0.0e0, 0.0e0)
                                 ORDER BY x2.day)
                     FROM x x2 WHERE x2.day <= x.day)),
                (acc, e) -> CASE WHEN acc[3] = 0.0e0
                    THEN list_value(e[1], 0.0e0, 1.0e0)
                    ELSE list_value(
                        {_HOLT_ALPHA}e0 * e[1]
                             + {1 - _HOLT_ALPHA}e0 * (acc[1] + acc[2]),
                        {_HOLT_BETA}e0
                             * (({_HOLT_ALPHA}e0 * e[1]
                                 + {1 - _HOLT_ALPHA}e0 * (acc[1] + acc[2]))
                                - acc[1])
                             + {1 - _HOLT_BETA}e0 * acc[2],
                        1.0e0)
                    END) AS s
        FROM x)
    SELECT day, cents AS x_cents,
           {sql_roundn("s[1]", 4)} AS level,
           {sql_roundn("s[2]", 4)} AS trend,
           {sql_roundn("s[1] + s[2]", 4)} AS forecast_next
    FROM st ORDER BY day
    """,
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — Holt double exponential smoothing of the daily
    revenue series (level + trend state, α=1/2, β=1/4), with the
    one-step-ahead forecast l+b per day. Completes the forecasting
    ladder: ts_ewma (level only) → ts_holt (level+trend) →
    ts_seasonal_baseline (seasonal form).

    The state recursion is inherently sequential, so it runs as a LEFT
    FOLD over the ascending daily array (the survival_kaplan_meier
    discipline): both engines execute the identical IEEE sequence —
    the smoothing constants are exact binary fractions and the daily
    inputs exact integer cents, so the only rounding is the shared
    float multiply/add chain, bit-identical on both sides.

    100 TB: the feed collapses to |days| aggregated rows before any
    window; the O(|days|²) prefix folds are over the DAY DOMAIN
    (30 rows here; a decade is ~3.7k), invariant to row count. A
    per-series variant partitions the same windows by series key.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents).alias("cents"))
        .withColumn("xv", F.col("cents").cast("double"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    arr = F.collect_list("xv").over(w)
    init = F.struct(
        F.lit(0.0).alias("l"), F.lit(0.0).alias("b"),
        F.lit(False).alias("started"),
    )
    a, b1 = F.lit(_HOLT_ALPHA), F.lit(1 - _HOLT_ALPHA)
    g, g1 = F.lit(_HOLT_BETA), F.lit(1 - _HOLT_BETA)

    def _step(acc, x):
        lv = acc.getField("l")
        tr = acc.getField("b")
        new_l = a * x + b1 * (lv + tr)
        return F.when(
            ~acc.getField("started"),
            F.struct(
                x.alias("l"), F.lit(0.0).alias("b"),
                F.lit(True).alias("started"),
            ),
        ).otherwise(
            F.struct(
                new_l.alias("l"),
                (g * (new_l - lv) + g1 * tr).alias("b"),
                F.lit(True).alias("started"),
            )
        )

    st = F.aggregate(arr, init, _step)
    return d.select(
        "day",
        F.col("cents").alias("x_cents"),
        roundn(st.getField("l"), 4).alias("level"),
        roundn(st.getField("b"), 4).alias("trend"),
        roundn(st.getField("l") + st.getField("b"), 4).alias(
            "forecast_next"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# classical seasonal decomposition (r3i wave)
# ---------------------------------------------------------------------------

@query(
    "ts_stl_decompose",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    ma AS (
        SELECT day, cents,
               SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
               COUNT(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
               CAST(EXTRACT(isodow FROM day) AS INT) AS wd
        FROM d),
    core AS (
        SELECT day, cents, wd, sum7,
               7 * cents - sum7 AS det7
        FROM ma WHERE n7 = 7),
    seas AS (
        SELECT wd,
               SUM(det7) * 1.0e0 / (7.0e0 * COUNT(*)) AS s_wd
        FROM core GROUP BY wd),
    norm AS (
        SELECT AVG(s_wd) AS s_mean FROM seas),
    fin AS (
        SELECT c.day, c.cents, c.sum7, c.det7,
               s.s_wd - n.s_mean AS seasonal_raw
        FROM core c JOIN seas s ON s.wd = c.wd, norm n)
    SELECT day, cents AS x_cents,
           {sql_roundn("sum7 / 7.0e0", 4)} AS trend,
           {sql_roundn("seasonal_raw", 4)} AS seasonal,
           {sql_roundn("det7 / 7.0e0 - seasonal_raw", 4)} AS residual
    FROM fin ORDER BY day
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — classical additive decomposition of the daily
    revenue series: trend = centered 7-day moving average (full windows
    only), weekly seasonal = per-ISO-weekday mean of the detrended
    series (normalized to mean 0 across weekdays, the standard
    identifiability constraint), residual = remainder. The
    decomposition behind ts_seasonal_baseline's drift gate, emitted as
    components.

    Exactness discipline: the detrended series is kept as the INTEGER
    7·x − Σ₇ (cents are exact, so det7 is exact int64) and every group
    mean divides an exact integer sum — no order-dependent double
    summation anywhere; the final /7 divisions and the seasonal
    centering are the identical expression trees on both engines,
    rounded at projection. ISO weekday (Spark dayofweek is Sunday=1 —
    mapped to ISO via ((dow+5) mod 7)+1) so both engines share the
    seasonal index.

    100 TB: the feed collapses to |days| rows; the MA window and
    weekday aggregate run over the day domain. A per-series variant
    adds the series key to every PARTITION BY.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    ma = d.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("n7"),
        (F.pmod(F.dayofweek("day") + F.lit(5), F.lit(7)) + F.lit(1))
        .cast("int")
        .alias("wd"),
    )
    core = ma.filter(F.col("n7") == 7).withColumn(
        "det7", F.lit(7) * F.col("cents") - F.col("sum7")
    )
    core = core.localCheckpoint(eager=False)  # seasonal agg + final join
    seas = core.groupBy("wd").agg(
        (F.sum("det7") * F.lit(1.0) / (F.lit(7.0) * F.count("*"))).alias(
            "s_wd"
        )
    )
    # centering via a window normalizer over the ≤7 weekday states — a
    # scalar-broadcast join here plans a BroadcastNestedLoopJoin (the
    # 592ba63 rule: windows over bounded state tables, not scalar joins)
    seas = seas.withColumn(
        "s_mean", F.avg("s_wd").over(Window.partitionBy())
    )
    fin = core.join(F.broadcast(seas), "wd")
    return fin.select(
        "day",
        F.col("cents").alias("x_cents"),
        roundn(F.col("sum7") / F.lit(7.0), 4).alias("trend"),
        roundn(F.col("s_wd") - F.col("s_mean"), 4).alias("seasonal"),
        roundn(
            F.col("det7") / F.lit(7.0) - (F.col("s_wd") - F.col("s_mean")),
            4,
        ).alias("residual"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# adaptive-gap sessionization (r3t wave)
# ---------------------------------------------------------------------------

#: session breaks when the gap exceeds max(_ADAPT_MULT x median gap, floor)
_ADAPT_MULT = 3
_ADAPT_FLOOR_US = 60_000_000  # 60 s


def _adapt_oracle() -> str:
    return f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS t
        FROM events),
    d AS (
        SELECT user_id, t,
               t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, user_id)
                   AS delta
        FROM e),
    dd AS (
        SELECT user_id, delta,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY delta, t) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM d WHERE delta IS NOT NULL),
    med AS (
        SELECT user_id, delta AS med_us
        FROM dd WHERE rn = (cnt + 1) // 2),
    th AS (
        SELECT user_id,
               GREATEST({_ADAPT_MULT} * med_us, {_ADAPT_FLOOR_US})
                   AS thresh_us
        FROM med),
    marked AS (
        SELECT d.user_id, d.t,
               CASE WHEN d.delta IS NULL
                         OR d.delta > th.thresh_us THEN 1 ELSE 0 END
                   AS brk
        FROM d JOIN th ON th.user_id = d.user_id)
    SELECT m.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(brk) AS BIGINT) AS n_sessions,
           CAST(MAX(th.thresh_us) AS BIGINT) AS thresh_us
    FROM marked m JOIN th ON th.user_id = m.user_id
    GROUP BY m.user_id
    ORDER BY m.user_id
    """


@query("sessionize_adaptive", oracle=_adapt_oracle())
def sessionize_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE-gap sessionization: each user's session timeout is
    3 × their own median inter-event gap (floored at 60 s) instead of a
    global 30-minute constant — a power user's rapid-fire bursts split
    correctly while a daily-check-in user's visits don't merge; the
    per-entity-threshold pattern every fixed-gap sessionizer
    (sessionize_path) eventually grows into. Users with a single event
    (no gaps) are excluded — no median exists, the documented boundary.

    Exactness: gaps are integer epoch-microsecond differences; the
    per-user median is the exact lower median (value at rank
    ⌈n/2⌉ via row_number over the user's gap multiset — deterministic
    under ties); the threshold is integer GREATEST; session counting
    sums integer break flags. No floats anywhere.

    100 TB: both windows partition by user_id (hash-distributed; one
    shuffle shared by lag + median since the keys match); the per-user
    threshold table is entity-sized and joins back on the same key —
    co-partitioned, no extra exchange at scale."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.unix_micros("ts").alias("t"))
    wl = Window.partitionBy("user_id").orderBy("t", "user_id")
    d = e.withColumn("delta", F.col("t") - F.lag("t").over(wl))
    d = d.localCheckpoint(eager=False)  # median + marking consumers
    dd = d.filter(F.col("delta").isNotNull()).select(
        "user_id",
        "delta",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("delta", "t"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("cnt"),
    )
    med = dd.filter(
        F.col("rn") == ((F.col("cnt") + 1) / 2).cast("long")
    ).select("user_id", F.col("delta").alias("med_us"))
    th = med.select(
        "user_id",
        F.greatest(
            F.lit(_ADAPT_MULT) * F.col("med_us"), F.lit(_ADAPT_FLOOR_US)
        ).alias("thresh_us"),
    )
    marked = d.join(th, "user_id").select(
        "user_id",
        "thresh_us",
        F.when(
            F.col("delta").isNull() | (F.col("delta") > F.col("thresh_us")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("brk").alias("n_sessions"),
            F.max("thresh_us").alias("thresh_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# interval union / coverage (r3u wave)
# ---------------------------------------------------------------------------

#: view/click/error events open a 5-minute interval; the heavy events
#: (signup, purchase) open a 30-minute one — variable spans are what
#: make the running-max sweep load-bearing (see docstring)
_IUC_SPAN_US = 300_000_000
_IUC_HEAVY_US = 1_800_000_000


def _iuc_oracle() -> str:
    return f"""
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s,
               epoch_us(ts) + CASE WHEN event_type IN ('signup', 'purchase')
                                   THEN {_IUC_HEAVY_US}
                                   ELSE {_IUC_SPAN_US} END AS e
        FROM events),
    m AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_e
        FROM iv),
    f AS (
        SELECT user_id, s, e,
               CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                    THEN 1 ELSE 0 END AS new_island
        FROM m),
    g AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM f),
    isl AS (
        SELECT user_id, island, MIN(s) AS is_s, MAX(e) AS is_e
        FROM g GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(is_e - is_s) AS BIGINT) AS covered_us,
           CAST(MAX(is_e - is_s) AS BIGINT) AS longest_us
    FROM isl GROUP BY user_id ORDER BY user_id
    """


@query("interval_union_coverage", oracle=_iuc_oracle())
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (coverage) per user: every event opens an
    activity interval (5 min; 30 min for the heavy signup/purchase
    types); overlapping/touching intervals merge and the
    user's total covered time, merged-interval count, and longest
    stretch are reported. The measure-theoretic union that naive
    SUM(duration) double-counts whenever intervals overlap — the
    uptime/billable-time/sensor-coverage primitive, and the interval
    cousin of win_islands' integer runs.

    The classic running-max sweep: an interval starts a new island iff
    its start exceeds the max end among ALL earlier intervals (not just
    the previous row — an early long interval can swallow several later
    short ones; prev-row formulations get exactly that case wrong, and
    the test plants it). Exactness: pure integer epoch-µs; a touching
    boundary (s == prev_max_e) merges — pinned by test.

    100 TB: one window shuffle partitioned by user (the sweep is the
    per-key O(n log n) interval-union lower bound); island reduction
    and the final rollup reuse the same user partitioning — no second
    exchange at scale."""
    ev = load_table(spark, sf_dir, "events")
    span = F.when(
        F.col("event_type").isin("signup", "purchase"),
        F.lit(_IUC_HEAVY_US),
    ).otherwise(F.lit(_IUC_SPAN_US))
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + span).alias("e"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        iv.withColumn("prev_max_e", F.max("e").over(wp))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_e").isNull()
                | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(wc))
    )
    isl = g.groupBy("user_id", "island").agg(
        F.min("s").alias("is_s"), F.max("e").alias("is_e")
    )
    return (
        isl.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("is_e") - F.col("is_s")).alias("covered_us"),
            F.max(F.col("is_e") - F.col("is_s")).alias("longest_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# sequence pattern detection, MATCH_RECOGNIZE-lite (r3u wave)
# ---------------------------------------------------------------------------

#: assisted-conversion pattern over the per-user event-initial string
_SEQ_ASSIST = "V[^P]*C[^P]*P"


def _seq_oracle() -> str:
    return f"""
    WITH s AS (
        SELECT user_id,
               string_agg(UPPER(SUBSTRING(event_type, 1, 1)), ''
                          ORDER BY ts) AS seq
        FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(LENGTH(seq) AS BIGINT) AS seq_len,
           CAST((LENGTH(seq) - LENGTH(REPLACE(seq, 'VCP', ''))) // 3
                AS BIGINT) AS n_direct_vcp,
           regexp_matches(seq, '{_SEQ_ASSIST}') AS has_assisted_path,
           regexp_matches(seq, 'V[^P]*$') AS ends_abandoned
    FROM s ORDER BY user_id
    """


@query("seq_pattern_regex", oracle=_seq_oracle())
def seq_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence-pattern detection: each user's
    event history collapses to an ordered initial string (V=view,
    C=click, P=purchase, S=signup, E=error — the five types have
    distinct initials) and patterns run AS REGEXES over it —
    `VCP` exact direct conversions (counted by replace-arithmetic, no
    regex ambiguity), the noise-tolerant assisted path V→C→P with no
    intervening purchase, and sessions that end on an unconverted view.
    The sequence-MINING complement to funnel_conversion (which is
    time-window based) and markov_transitions (which is memoryless —
    regexes see arbitrary-length context).

    Portability: the sequence is built by the sort-struct-array idiom
    (Spark has no ordered string_agg — sessionize_path's documented
    pattern) vs DuckDB's ORDER BY aggregate; tie-free timestamps make
    both total orders identical. Counting uses pure string arithmetic
    ((len − len(replace))/3); the two regexes are anchored/character-
    class-only patterns on which Java regex and RE2 agree (no
    backtracking-semantics divergence — documented constraint: keep
    alternation-free patterns).

    100 TB: one groupBy shuffle carrying (ts, 1-char initial) pairs —
    the sequence string materializes per user AFTER the shuffle; all
    pattern work is per-row codegen on entity-sized data."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.upper(F.substring("event_type", 1, 1)).alias("c"),
                    )
                )
            ),
            lambda x: x.getField("c"),
        ),
    )
    s = ev.groupBy("user_id").agg(seq.alias("seq"))
    return s.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        (
            (F.length("seq") - F.length(F.regexp_replace("seq", "VCP", "")))
            / 3
        )
        .cast("long")
        .alias("n_direct_vcp"),
        F.col("seq").rlike(_SEQ_ASSIST).alias("has_assisted_path"),
        F.col("seq").rlike("V[^P]*$").alias("ends_abandoned"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# interval-overlap join (r3w wave)
# ---------------------------------------------------------------------------

#: activity interval per event; error-burst incident threshold per hour
_IOJ_SPAN_US = 300_000_000
_IOJ_BURST_MIN = 5
_HOUR_US = 3_600_000_000


def _ioj_oracle() -> str:
    return f"""
    WITH act AS (
        SELECT user_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_IOJ_SPAN_US} AS e
        FROM events WHERE event_type <> 'error'),
    inc AS (
        SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS is_,
               (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} + {_HOUR_US} AS ie
        FROM events WHERE event_type = 'error'
        GROUP BY 1, 2 HAVING COUNT(*) >= {_IOJ_BURST_MIN}),
    touched AS (
        SELECT user_id, s, e, h.hb
        FROM act, LATERAL (
            SELECT UNNEST(ARRAY[s // {_HOUR_US},
                                e // {_HOUR_US}]) AS hb) h
        GROUP BY 1, 2, 3, 4),
    ov AS (
        SELECT t.user_id,
               GREATEST(t.s, i.is_) AS os,
               LEAST(t.e, i.ie) AS oe
        FROM touched t
        JOIN inc i ON i.is_ = t.hb * {_HOUR_US}
        WHERE LEAST(t.e, i.ie) > GREATEST(t.s, i.is_))
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(oe - os) AS BIGINT) AS overlap_us
    FROM ov GROUP BY user_id ORDER BY user_id
    """


@query("join_interval_overlap", oracle=_ioj_oracle())
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join (the Flink interval-join shape): each
    user's 5-minute activity intervals against global incident windows
    (hours containing ≥{b} error events), reporting per user how many
    activity intervals overlapped an incident and the exact overlapped
    microseconds — the "who was exposed to the outage, for how long"
    query. Distinct from join_interval_events (point-in-interval) and
    interval_union_coverage (single-set union): this is set×set with
    overlap DURATION.

    The scale trick: never a raw inequality join. Each activity
    interval EXPLODES to the ≤2 hour buckets it touches (span < 1 h ⇒
    at most 2), incidents are hour-aligned, and the join is an
    EQUI-join on the bucket — band-join via bucketing, with the exact
    overlap computed as LEAST(ends) − GREATEST(starts) after the
    equi-match. The bucket dedup before the join prevents the
    double-count when an interval and an incident share both buckets.

    Exactness: all epoch-µs integers; overlap arithmetic is
    GREATEST/LEAST on integers; strict > keeps zero-length touches out
    (pinned by test).

    100 TB: the bucket explode is ×2 map-side; the join is hash on
    (bucket) with the incident side naturally small (burst hours) and
    broadcastable; per-user rollup reuses the user key."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.filter(F.col("event_type") != "error").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_IOJ_SPAN_US)).alias("e"),
    )
    inc = (
        ev.filter(F.col("event_type") == "error")
        .select(F.unix_micros("ts").alias("t"))
        .select(
            (F.expr(f"t DIV {_HOUR_US}") * _HOUR_US).alias("is_")
        )
        .groupBy("is_")
        .agg(F.count("*").alias("n_err"))
        .filter(F.col("n_err") >= _IOJ_BURST_MIN)
        .select("is_", (F.col("is_") + _HOUR_US).alias("ie"))
    )
    touched = (
        act.select(
            "user_id",
            "s",
            "e",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr(f"s DIV {_HOUR_US}"),
                        F.expr(f"e DIV {_HOUR_US}"),
                    )
                )
            ).alias("hb"),
        )
    )
    ov = (
        touched.join(
            F.broadcast(inc), touched["hb"] * _HOUR_US == inc["is_"]
        )
        .select(
            "user_id",
            F.greatest("s", "is_").alias("os"),
            F.least("e", "ie").alias("oe"),
        )
        .filter(F.col("oe") > F.col("os"))
    )
    return (
        ov.groupBy("user_id")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum(F.col("oe") - F.col("os")).alias("overlap_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# rolling OLS trend (r4a wave)
# ---------------------------------------------------------------------------

#: rolling regression window, in observations (days)
_OLS_WIN = 14


def _ols_oracle() -> str:
    w = _OLS_WIN
    return f"""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    s AS (
        SELECT day, cents,
               CAST(COUNT(*) OVER fr AS BIGINT) AS n,
               CAST(SUM(day) OVER fr AS BIGINT) AS sx,
               CAST(SUM(cents) OVER fr AS BIGINT) AS sy,
               CAST(SUM(day * cents) OVER fr AS BIGINT) AS sxy,
               CAST(SUM(day * day) OVER fr AS BIGINT) AS sxx
        FROM d
        WINDOW fr AS (ORDER BY day
            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW))
    SELECT day, cents, n,
           {sql_roundn(
               "(n * sxy - sx * sy) * 1.0e0 / (n * sxx - sx * sx)", 6
           )} AS slope,
           {sql_roundn(
               "(sy - (n * sxy - sx * sy) * 1.0e0"
               " / (n * sxx - sx * sx) * sx) / n", 2
           )} AS intercept,
           {sql_roundn(
               "(sy - (n * sxy - sx * sy) * 1.0e0"
               " / (n * sxx - sx * sx) * sx) / n"
               " + (n * sxy - sx * sy) * 1.0e0 / (n * sxx - sx * sx)"
               "   * (day + 1)", 2
           )} AS forecast_next
    FROM s WHERE n >= 2
    ORDER BY day
    """


@query("ts_rolling_ols", oracle=_ols_oracle())
def ts_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING ordinary-least-squares trend of daily revenue: over each
    trailing {w}-observation frame, the OLS slope (cents/day),
    intercept, and one-day-ahead forecast — the local linear trend
    readout beside ts_theilsen (global, robust) and ts_wma (smoothing
    without a slope). The rolling-sums formulation is the textbook
    streaming regression: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from
    FIVE window sums, no per-window refit.

    Exactness: x is the integer epoch day, y integer cents; all five
    frame sums AND both slope numerator/denominator are exact int64
    (day·cents ≈ 2×10¹³; n·Σxy ≈ 10¹⁵ — bounded; the near-cancelling
    n·Σxx − Σx² is exact integer subtraction, precisely where a
    float formulation loses digits); only the final divisions run as
    identical trees.

    100 TB: one day-grain aggregate (map-side combined), then windows
    over the DAY table (domain-bounded — the histogram_values
    argument). Per-entity variants partition the same frame by the
    entity key."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.expr("CAST(unix_micros(ts) DIV 86400000000 AS LONG)").alias(
                "day"
            ),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").alias("cents"))
    )
    fr = Window.orderBy("day").rowsBetween(-(_OLS_WIN - 1), 0)
    s = d.select(
        "day",
        "cents",
        F.count("*").over(fr).alias("n"),
        F.sum("day").over(fr).alias("sx"),
        F.sum("cents").over(fr).alias("sy"),
        F.sum(F.col("day") * F.col("cents")).over(fr).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(fr).alias("sxx"),
    ).filter(F.col("n") >= 2)
    one = F.lit(1.0)
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * one
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "day",
        "cents",
        "n",
        roundn(slope, 6).alias("slope"),
        roundn(intercept, 2).alias("intercept"),
        roundn(intercept + slope * (F.col("day") + 1), 2).alias(
            "forecast_next"
        ),
    ).orderBy("day")


ts_rolling_ols.__doc__ = ts_rolling_ols.__doc__.format(w=_OLS_WIN)


# ---------------------------------------------------------------------------
# position-based (U-shape) attribution (r4a wave)
# ---------------------------------------------------------------------------

#: credit split in exact micro-units: 40/20/40 with documented edge rules
_ATTR_FIRST = 400_000
_ATTR_MID_POOL = 200_000
_ATTR_FULL = 1_000_000


def _attr_oracle() -> str:
    return f"""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        FROM events GROUP BY user_id),
    t AS (
        SELECT e.user_id, e.ts, e.event_type
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE u.fp IS NOT NULL AND e.ts < u.fp
          AND e.event_type IN ('view', 'click', 'signup')),
    j AS (
        SELECT user_id, list(event_type ORDER BY ts) AS chs
        FROM t GROUP BY user_id),
    x AS (SELECT user_id, chs, CAST(len(chs) AS BIGINT) AS n FROM j),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM x),
    cr AS (
        SELECT user_id,
               UNNEST(list_transform(range(1, CAST(n AS INTEGER) + 1),
                   i -> struct_pack(
                       ch := chs[i],
                       micro := CASE
                           WHEN n = 1 THEN {_ATTR_FULL}
                           WHEN n = 2 THEN {_ATTR_FULL} // 2
                           WHEN i = 1 OR i = n THEN {_ATTR_FIRST}
                           WHEN i = 2 THEN {_ATTR_MID_POOL} // (n - 2)
                                          + {_ATTR_MID_POOL} % (n - 2)
                           ELSE {_ATTR_MID_POOL} // (n - 2)
                       END)),
                   recursive := true)
        FROM x)
    SELECT cr.ch AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(cr.micro) AS BIGINT) AS credit_micro,
           {sql_roundn(
               f"SUM(cr.micro) * 1.0e0 / ({_ATTR_FULL}.0e0 * nc.n_conv)", 6
           )} AS credit_share,
           nc.n_conv AS n_conversions
    FROM cr, nc
    GROUP BY cr.ch, nc.n_conv
    ORDER BY channel
    """


@query("attribution_position_based", oracle=_attr_oracle())
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shape) multi-touch attribution: each user's
    pre-first-purchase touch path (view/click/signup, time-ordered)
    splits one conversion's credit 40% first / 40% last / 20% shared by
    the middles — the marketing-standard middle ground between
    attribution_last_touch (all-to-last) and linear. Edge rules pinned
    by tests: 1 touch → 100%; 2 touches → 50/50; the middle pool's
    integer remainder goes to the FIRST middle (deterministic — no
    fractional credit ever exists).

    Exactness: credit is integer MICRO-UNITS (conservation: every
    journey sums to exactly 1,000,000 — the tested law), so channel
    totals are exact integer sums; only the final share divides.

    100 TB: one groupBy builds per-user journeys (the shuffle carries
    (ts, channel) pairs); credit assignment is a narrow in-array
    transform; channel rollup is map-side combined. The first-purchase
    anchor reuses the per-user aggregate."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp")
    )
    t = (
        ev.join(u, "user_id")
        .filter(
            F.col("fp").isNotNull()
            & (F.col("ts") < F.col("fp"))
            & F.col("event_type").isin("view", "click", "signup")
        )
        .select("user_id", "ts", "event_type")
    )
    j = t.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", F.col("event_type").alias("ch")))
            ),
            lambda s: s.getField("ch"),
        ).alias("chs")
    )
    x = j.select("user_id", "chs", F.size("chs").cast("long").alias("n"))
    x = x.localCheckpoint(eager=False)  # credits + conversion count
    nc = x.agg(F.count("*").alias("n_conv"))
    n = F.col("n")
    cr = x.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n").cast("int")),
                lambda i: F.struct(
                    F.col("chs")[i - 1].alias("ch"),
                    F.when(n == 1, F.lit(_ATTR_FULL))
                    .when(n == 2, F.lit(_ATTR_FULL) / 2)
                    .when((i == 1) | (i == n), F.lit(_ATTR_FIRST))
                    .when(
                        i == 2,
                        F.floor(F.lit(_ATTR_MID_POOL) / (n - 2))
                        + F.lit(_ATTR_MID_POOL) % (n - 2),
                    )
                    .otherwise(F.floor(F.lit(_ATTR_MID_POOL) / (n - 2)))
                    .cast("long")
                    .alias("micro"),
                ),
            )
        ).alias("c"),
    )
    one = F.lit(1.0)
    return (
        cr.select(F.col("c.ch").alias("channel"), F.col("c.micro").alias("micro"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("micro").alias("credit_micro"),
        )
        .crossJoin(F.broadcast(nc))
        .select(
            "channel",
            "n_touches",
            "credit_micro",
            roundn(
                F.col("credit_micro")
                * one
                / (F.lit(float(_ATTR_FULL)) * F.col("n_conv")),
                6,
            ).alias("credit_share"),
            F.col("n_conv").alias("n_conversions"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# forecast backtest (r4g wave)
# ---------------------------------------------------------------------------

def _bt_oracle() -> str:
    w = _OLS_WIN
    return f"""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    s AS (
        SELECT day, cents,
               LAG(cents) OVER (ORDER BY day) AS prev,
               CAST(COUNT(*) OVER fr AS BIGINT) AS n,
               CAST(SUM(day) OVER fr AS BIGINT) AS sx,
               CAST(SUM(cents) OVER fr AS BIGINT) AS sy,
               CAST(SUM(day * cents) OVER fr AS BIGINT) AS sxy,
               CAST(SUM(day * day) OVER fr AS BIGINT) AS sxx
        FROM d
        WINDOW fr AS (ORDER BY day
            ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING)),
    f AS (
        SELECT day, cents, prev,
               (sy - (n * sxy - sx * sy) * 1.0e0
                / (n * sxx - sx * sx) * sx) / n
               + (n * sxy - sx * sy) * 1.0e0 / (n * sxx - sx * sx) * day
                   AS ols_fc
        FROM s WHERE n >= 2 AND prev IS NOT NULL),
    e AS (
        SELECT CAST(ABS(cents - prev) AS BIGINT) AS naive_err,
               CAST(FLOOR(ABS(cents - ols_fc) + 0.5e0) AS BIGINT)
                   AS ols_err
        FROM f)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_roundn("SUM(naive_err) * 1.0e0 / COUNT(*)", 2)}
               AS mae_naive,
           {sql_roundn("SUM(ols_err) * 1.0e0 / COUNT(*)", 2)} AS mae_ols,
           {sql_roundn(
               "1.0e0 - (SUM(ols_err) * 1.0e0 / COUNT(*))"
               " / (SUM(naive_err) * 1.0e0 / COUNT(*))", 4
           )} AS skill_vs_naive
    FROM e
    """


@query("ts_forecast_backtest", oracle=_bt_oracle())
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST — the evidence key for the forecasting tier:
    every day is predicted twice using only PRIOR days (the frame ends
    at 1 PRECEDING — no leakage), by the naive carry-forward y_{t−1}
    and by the rolling-OLS line (ts_rolling_ols's machinery shifted one
    step), and the two MAEs meet in the Theil-style skill score
    1 − MAE_model/MAE_naive. Positive skill = the model earns its
    keep; forecasters that never beat naive are the industry's
    best-hidden secret, and this makes the comparison driver-visible.

    Exactness: naive errors are exact integer cents; OLS forecasts are
    identical-tree doubles whose absolute errors are half-up-rounded
    to integer cents BEFORE summation, so both MAE numerators are
    order-free integer sums (the μ-quantization discipline).

    100 TB: one day-grain aggregate; lag + the five OLS sums share one
    domain-bounded window pass; the scorecard is a single aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.expr("CAST(unix_micros(ts) DIV 86400000000 AS LONG)").alias(
                "day"
            ),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
        .groupBy("day")
        .agg(F.sum("v").alias("cents"))
    )
    wl = Window.orderBy("day")
    fr = Window.orderBy("day").rowsBetween(-_OLS_WIN, -1)
    s = d.select(
        "day",
        "cents",
        F.lag("cents").over(wl).alias("prev"),
        F.count("*").over(fr).alias("n"),
        F.sum("day").over(fr).alias("sx"),
        F.sum("cents").over(fr).alias("sy"),
        F.sum(F.col("day") * F.col("cents")).over(fr).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(fr).alias("sxx"),
    ).filter((F.col("n") >= 2) & F.col("prev").isNotNull())
    one = F.lit(1.0)
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * one
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    ols_fc = (F.col("sy") - slope * F.col("sx")) / F.col("n") + slope * F.col(
        "day"
    )
    e = s.select(
        F.abs(F.col("cents") - F.col("prev")).alias("naive_err"),
        F.floor(F.abs(F.col("cents") - ols_fc) + F.lit(0.5))
        .cast("long")
        .alias("ols_err"),
    )
    mae_n = F.sum("naive_err") * one / F.count("*")
    mae_o = F.sum("ols_err") * one / F.count("*")
    return e.agg(
        F.count("*").alias("n_days"),
        roundn(mae_n, 2).alias("mae_naive"),
        roundn(mae_o, 2).alias("mae_ols"),
        roundn(one - mae_o / mae_n, 4).alias("skill_vs_naive"),
    )


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast (r4q wave)
# ---------------------------------------------------------------------------

#: smoothing constant (exact binary fraction) and the part-series subset
_CROSTON_A = 0.25
_CROSTON_MAX_PART = 5


def _croston_oracle() -> str:
    a, a1 = _CROSTON_A, 1 - _CROSTON_A
    return f"""
    /* list accumulator [z, p, started] — the ts_holt discipline
       (struct_pack fields evaluate sequentially into the accumulator;
       list_value builds the new state atomically). */
    WITH d AS (
        SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem
        WHERE l_partkey <= {_CROSTON_MAX_PART}
        GROUP BY 1, 2),
    x AS (
        SELECT part, day, demand,
               CAST(COALESCE(date_diff('day',
                        LAG(day) OVER (PARTITION BY part ORDER BY day),
                        day), 1) AS BIGINT) AS gap
        FROM d),
    st AS (
        SELECT part, day, demand, gap,
            list_reduce(
                list_prepend(
                    list_value(0.0e0, 0.0e0, 0.0e0),
                    (SELECT list(list_value(CAST(x2.demand AS DOUBLE),
                                            CAST(x2.gap AS DOUBLE), 0.0e0)
                                 ORDER BY x2.day)
                     FROM x x2
                     WHERE x2.part = x.part AND x2.day <= x.day)),
                (acc, e) -> CASE WHEN acc[3] = 0.0e0
                    THEN list_value(e[1], 1.0e0, 1.0e0)
                    ELSE list_value(
                        acc[1] + {a}e0 * (e[1] - acc[1]),
                        acc[2] + {a}e0 * (e[2] - acc[2]),
                        1.0e0)
                    END) AS s
        FROM x)
    SELECT part, day, demand, gap,
           FLOOR(s[1] * 10000.0e0 + 0.5e0) / 10000.0e0 AS z_size,
           FLOOR(s[2] * 10000.0e0 + 0.5e0) / 10000.0e0 AS p_interval,
           FLOOR(s[1] / s[2] * 10000.0e0 + 0.5e0) / 10000.0e0
               AS demand_rate
    FROM st ORDER BY part, day
    """


@query("ts_croston", oracle=_croston_oracle())
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting ladder, INTERMITTENT rung — Croston's method for
    sparse demand (ewma -> holt -> seasonal handle dense series; a
    part ordered ~30 times across 2,400 days breaks them all): on
    each DEMAND day, separately smooth the demand SIZE z and the
    inter-demand INTERVAL p (alpha = 1/4), forecast rate = z/p per
    day — the inventory-planning standard for slow movers, per part.

    Exactness: demand sizes and day gaps are exact integers; the
    recursion is a per-part LEFT FOLD over the ascending demand-day
    array (the ts_holt discipline) with an exact-binary-fraction
    alpha, so both engines execute the identical IEEE chain;
    first-demand state initializes to (d1, 1); readouts quantize at
    4 dp; p >= 1 always, so z/p never divides by zero.

    100 TB: the fold is per PART over that part's demand days —
    series are independent (embarrassingly parallel by part key);
    each prefix fold is bounded by the part's demand-day count, not
    the fact table.  The {m}-part subset keeps the showcase bounded;
    the per-part shape is identical at any part count."""
    li = load_table(spark, sf_dir, "lineitem")
    d = (
        li.where(F.col("l_partkey") <= _CROSTON_MAX_PART)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("demand"))
    )
    wlag = Window.partitionBy("part").orderBy("day")
    x = d.withColumn(
        "gap",
        F.coalesce(
            F.datediff(F.col("day"), F.lag("day").over(wlag)), F.lit(1)
        ).cast("long"),
    )
    wpre = Window.partitionBy("part").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = F.arrays_zip(
        F.collect_list(F.col("demand").cast("double")).over(wpre),
        F.collect_list(F.col("gap").cast("double")).over(wpre),
    )
    init = F.struct(
        F.lit(0.0).alias("z"), F.lit(0.0).alias("p"),
        F.lit(False).alias("started"),
    )
    a = F.lit(_CROSTON_A)

    def _step(acc, e):
        dv = e.getField("0")
        gv = e.getField("1")
        return F.when(
            ~acc.getField("started"),
            F.struct(
                dv.alias("z"), F.lit(1.0).alias("p"),
                F.lit(True).alias("started"),
            ),
        ).otherwise(
            F.struct(
                (acc.getField("z") + a * (dv - acc.getField("z"))).alias("z"),
                (acc.getField("p") + a * (gv - acc.getField("p"))).alias("p"),
                F.lit(True).alias("started"),
            )
        )

    st = F.aggregate(arr, init, _step)
    return x.select(
        "part",
        "day",
        "demand",
        "gap",
        roundn(st.getField("z"), 4).alias("z_size"),
        roundn(st.getField("p"), 4).alias("p_interval"),
        roundn(st.getField("z") / st.getField("p"), 4).alias("demand_rate"),
    ).orderBy("part", "day")


ts_croston.__doc__ = ts_croston.__doc__.format(m=_CROSTON_MAX_PART)


# ---------------------------------------------------------------------------
# binary-segmentation changepoint (r4q wave)
# ---------------------------------------------------------------------------

#: minimum segment length (days) on each side of a candidate split
_BSEG_MIN = 7
_BSEG_TOP = 3


def _bseg_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    pre AS (
        SELECT day, cents,
               CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS ps,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM daily),
    tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily),
    gain AS (
        SELECT p.day, p.i, p.ps, t.s, t.n,
               CAST(FLOOR(
                   CAST(p.ps AS DOUBLE) * CAST(p.ps AS DOUBLE)
                       / CAST(p.i AS DOUBLE)
                   + CAST(t.s - p.ps AS DOUBLE) * CAST(t.s - p.ps AS DOUBLE)
                       / CAST(t.n - p.i AS DOUBLE)
                   - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
                       / CAST(t.n AS DOUBLE)
                   + 0.5e0) AS BIGINT) AS gain_q
        FROM pre p CROSS JOIN tot t
        WHERE p.i >= {_BSEG_MIN} AND p.i <= t.n - {_BSEG_MIN})
    SELECT day AS split_day, i AS n_left, n - i AS n_right,
           FLOOR(CAST(ps AS DOUBLE) / CAST(i AS DOUBLE) / 100.0e0
                 * 100.0e0 + 0.5e0) / 100.0e0 AS mean_left,
           FLOOR(CAST(s - ps AS DOUBLE) / CAST(n - i AS DOUBLE) / 100.0e0
                 * 100.0e0 + 0.5e0) / 100.0e0 AS mean_right,
           gain_q
    FROM gain
    ORDER BY gain_q DESC, day
    LIMIT {_BSEG_TOP}
    """


@query("ts_changepoint_binseg", oracle=_bseg_oracle())
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series tier — EXACT single-changepoint detection by binary
    segmentation on the daily revenue series: for every admissible
    split (>= {m} days on each side), the squared-error REDUCTION of
    fitting two means instead of one, gain(k) = S_L^2/n_L + S_R^2/n_R
    - S^2/n; the top-{t} splits ship with both segment means.  The
    OFFLINE complement of ts_cusum's sequential detector (CUSUM
    monitors a stream against a known baseline; binseg finds the
    globally best split in a finished history — rerun on each side
    for the full segmentation).

    Exactness: prefix sums are exact int64 cents; each candidate's
    gain is one identical double tree over those integers, floor-
    quantized to integer units BEFORE ranking, ties broken by day —
    the argmax is bit-deterministic on both engines.

    100 TB: the series is day-grain (calendar-bounded) after one
    map-side aggregate; ONE bounded prefix-sum window + a one-row
    total broadcast scores all candidates in a single projection;
    top-{t} is a heap."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("ps"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    tot = daily.agg(
        F.sum("cents").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")
    g = (
        pre.crossJoin(F.broadcast(tot))
        .where(
            (F.col("i") >= _BSEG_MIN) & (F.col("i") <= F.col("n") - _BSEG_MIN)
        )
        .select(
            "day",
            "i",
            "ps",
            "s",
            "n",
            F.floor(
                d("ps") * d("ps") / d("i")
                + (F.col("s") - F.col("ps")).cast("double")
                * (F.col("s") - F.col("ps")).cast("double")
                / (F.col("n") - F.col("i")).cast("double")
                - d("s") * d("s") / d("n")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("gain_q"),
        )
    )
    return (
        g.select(
            F.col("day").alias("split_day"),
            F.col("i").alias("n_left"),
            (F.col("n") - F.col("i")).alias("n_right"),
            roundn(d("ps") / d("i") / F.lit(100.0), 2).alias("mean_left"),
            roundn(
                (F.col("s") - F.col("ps")).cast("double")
                / (F.col("n") - F.col("i")).cast("double")
                / F.lit(100.0),
                2,
            ).alias("mean_right"),
            "gain_q",
        )
        .orderBy(F.desc("gain_q"), "split_day")
        .limit(_BSEG_TOP)
    )


ts_changepoint_binseg.__doc__ = ts_changepoint_binseg.__doc__.format(
    m=_BSEG_MIN, t=_BSEG_TOP
)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (r4y wave)
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.5
_HW_BETA = 0.25
_HW_GAMMA = 0.5


@query(
    "ts_holt_winters",
    oracle=f"""
    /* state rides a 10-slot LIST accumulator [l, b, started,
       s_(t-6)..s_t] -- the ts_holt list-not-struct discipline (DuckDB
       struct_pack field expressions see already-updated accumulator
       fields; list_value builds the new state atomically). */
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    x AS (SELECT day, cents, CAST(cents AS DOUBLE) AS xv FROM d),
    st AS (
        SELECT day, cents,
            list_reduce(
                list_prepend(
                    list_value(0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0,
                               0.0e0, 0.0e0, 0.0e0, 0.0e0),
                    (SELECT list(list_value(x2.xv, 0.0e0, 0.0e0, 0.0e0,
                                            0.0e0, 0.0e0, 0.0e0, 0.0e0,
                                            0.0e0, 0.0e0)
                                 ORDER BY x2.day)
                     FROM x x2 WHERE x2.day <= x.day)),
                (acc, e) -> CASE WHEN acc[3] = 0.0e0
                    THEN list_value(e[1], 0.0e0, 1.0e0, 0.0e0, 0.0e0,
                                    0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0)
                    ELSE list_value(
                        {_HW_ALPHA}e0 * (e[1] - acc[4])
                            + {1 - _HW_ALPHA}e0 * (acc[1] + acc[2]),
                        {_HW_BETA}e0
                            * (({_HW_ALPHA}e0 * (e[1] - acc[4])
                                + {1 - _HW_ALPHA}e0 * (acc[1] + acc[2]))
                               - acc[1])
                            + {1 - _HW_BETA}e0 * acc[2],
                        1.0e0,
                        acc[5], acc[6], acc[7], acc[8], acc[9], acc[10],
                        {_HW_GAMMA}e0
                            * (e[1]
                               - ({_HW_ALPHA}e0 * (e[1] - acc[4])
                                  + {1 - _HW_ALPHA}e0 * (acc[1] + acc[2])))
                            + {1 - _HW_GAMMA}e0 * acc[4])
                    END) AS s
        FROM x)
    SELECT day, cents AS x_cents,
           {sql_roundn("s[1]", 4)} AS level,
           {sql_roundn("s[2]", 4)} AS trend,
           {sql_roundn("s[10]", 4)} AS seasonal,
           {sql_roundn("s[1] + s[2] + s[4]", 4)} AS forecast_next
    FROM st ORDER BY day
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS-extension — additive Holt-Winters triple exponential
    smoothing of the daily revenue series (level + trend + weekly
    seasonal state; α=1/2, β=1/4, γ=1/2), the seasonal completion of
    the forecasting ladder ts_ewma → ts_holt → ts_holt_winters.  Warm
    start: seasonal slots begin at 0 and learn from the data (the
    deterministic fold-friendly convention; the classic two-week batch
    init needs a lookahead a left fold cannot express).
    ``forecast_next`` = l + b + s_(t+1−7) — the one-step-ahead readout
    per day.

    Exactness: the recursion is a LEFT FOLD over the ascending daily
    array; state is (l, b, s₁..s₇) doubles updated by the identical
    IEEE op sequence on both engines — smoothing constants are exact
    binary fractions, inputs exact integer cents, so both folds are
    bit-identical; outputs quantized at 1e-4.

    100 TB: the feed collapses to |days| rows before any window; the
    O(|days|²) prefix folds run over the bounded day domain.  A
    per-series variant partitions the same construction by series
    key."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents).alias("cents"))
        .withColumn("xv", F.col("cents").cast("double"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    arr = F.collect_list("xv").over(w)
    zeros7 = F.array_repeat(F.lit(0.0), 7)
    init = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(False).alias("started"),
        zeros7.alias("s"),
    )
    a, a1 = F.lit(_HW_ALPHA), F.lit(1 - _HW_ALPHA)
    g, g1 = F.lit(_HW_BETA), F.lit(1 - _HW_BETA)
    c, c1 = F.lit(_HW_GAMMA), F.lit(1 - _HW_GAMMA)

    def _step(acc, x):
        lv = acc.getField("l")
        tr = acc.getField("b")
        sarr = acc.getField("s")
        s_old = F.element_at(sarr, 1)
        new_l = a * (x - s_old) + a1 * (lv + tr)
        new_b = g * (new_l - lv) + g1 * tr
        new_s = c * (x - new_l) + c1 * s_old
        rot = F.concat(F.slice(sarr, 2, 6), F.array(new_s))
        return F.when(
            ~acc.getField("started"),
            F.struct(
                x.alias("l"),
                F.lit(0.0).alias("b"),
                F.lit(True).alias("started"),
                zeros7.alias("s"),
            ),
        ).otherwise(
            F.struct(
                new_l.alias("l"),
                new_b.alias("b"),
                F.lit(True).alias("started"),
                rot.alias("s"),
            )
        )

    st = F.aggregate(arr, init, _step)
    return d.select(
        "day",
        F.col("cents").alias("x_cents"),
        roundn(st.getField("l"), 4).alias("level"),
        roundn(st.getField("b"), 4).alias("trend"),
        roundn(F.element_at(st.getField("s"), 7), 4).alias("seasonal"),
        roundn(
            st.getField("l")
            + st.getField("b")
            + F.element_at(st.getField("s"), 1),
            4,
        ).alias("forecast_next"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (r5e wave)
# ---------------------------------------------------------------------------

#: non-conversion channels (events.event_type domain minus 'purchase')
_MK_CHANNELS = ("click", "error", "signup", "view")

#: absorbing-chain power iterations (journeys are short; P(conv within
#: _MK_K hops) has converged well inside the horizon)
_MK_K = 6

_MK_U = 1_000_000


def _markov_attr_oracle() -> str:
    chans = ", ".join(f"('{c}')" for c in _MK_CHANNELS)
    chains = ", ".join(["('FULL')"] + [f"('{c}')" for c in _MK_CHANNELS])
    steps = []
    for i in range(1, _MK_K + 1):
        steps.append(f"""
    p{i} AS (
        SELECT st.chain, st.state,
               COALESCE(tc.mu, 0) + COALESCE(pr.w, 0) AS v
        FROM st
        LEFT JOIN tconv tc
          ON tc.chain = st.chain AND tc.src = st.state
        LEFT JOIN (
            SELECT t.chain, t.src,
                   CAST(SUM(t.mu * p.v) AS BIGINT) // {_MK_U} AS w
            FROM tprop t JOIN p{i-1} p
              ON p.chain = t.chain AND p.state = t.dst
            GROUP BY t.chain, t.src) pr
          ON pr.chain = st.chain AND pr.src = st.state)""")
    return f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    pf AS (
        SELECT user_id, MIN(rn) AS prn FROM ordered
        WHERE event_type = 'purchase' GROUP BY 1),
    path AS (
        SELECT o.user_id, o.event_type, o.rn
        FROM ordered o LEFT JOIN pf ON pf.user_id = o.user_id
        WHERE pf.prn IS NULL OR o.rn <= pf.prn),
    hops AS (
        SELECT 'START' AS src,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS dst
        FROM path WHERE rn = 1
        UNION ALL
        SELECT a.event_type AS src,
               CASE WHEN b.event_type = 'purchase' THEN 'CONV'
                    ELSE b.event_type END AS dst
        FROM path a JOIN path b
          ON b.user_id = a.user_id AND b.rn = a.rn + 1
        WHERE a.event_type <> 'purchase'
        UNION ALL
        SELECT a.event_type AS src, 'DROP' AS dst
        FROM path a
        LEFT JOIN path b
          ON b.user_id = a.user_id AND b.rn = a.rn + 1
        LEFT JOIN pf ON pf.user_id = a.user_id
        WHERE b.rn IS NULL AND pf.prn IS NULL
          AND a.event_type <> 'purchase'),
    cnt AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM hops GROUP BY 1, 2),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
    tmu AS (
        SELECT c.src, c.dst, (c.n * {_MK_U}) // t.t AS mu
        FROM cnt c JOIN tot t ON t.src = c.src),
    chainlist(chain) AS (VALUES {chains}),
    chanlist(ch) AS (VALUES {chans}),
    st AS (
        SELECT cl.chain, s.state FROM chainlist cl
        CROSS JOIN (SELECT 'START' AS state
                    UNION ALL SELECT ch FROM chanlist) s
        WHERE cl.chain = 'FULL' OR s.state <> cl.chain
           OR s.state = 'START'),
    tprop AS (
        SELECT cl.chain, t.src, t.dst, t.mu
        FROM chainlist cl CROSS JOIN tmu t
        WHERE t.dst NOT IN ('CONV', 'DROP')
          AND (cl.chain = 'FULL'
               OR (t.src <> cl.chain AND t.dst <> cl.chain))),
    tconv AS (
        SELECT cl.chain, t.src, t.mu
        FROM chainlist cl CROSS JOIN tmu t
        WHERE t.dst = 'CONV'
          AND (cl.chain = 'FULL' OR t.src <> cl.chain)),
    p0 AS (SELECT chain, state, CAST(0 AS BIGINT) AS v FROM st),{",".join(steps)},
    starts AS (
        SELECT chain, v FROM p{_MK_K} WHERE state = 'START'),
    re AS (
        SELECT c.ch AS channel,
               f.v AS p_full_micro,
               r.v AS p_removed_micro,
               GREATEST(f.v - r.v, 0) AS removal_effect_micro
        FROM chanlist c
        JOIN starts r ON r.chain = c.ch
        CROSS JOIN (SELECT v FROM starts WHERE chain = 'FULL') f),
    tot_re AS (SELECT CAST(SUM(removal_effect_micro) AS BIGINT) AS s FROM re)
    SELECT re.channel,
           CAST(re.p_full_micro AS DOUBLE) / {_MK_U}.0e0 AS p_conv_full,
           CAST(re.p_removed_micro AS DOUBLE) / {_MK_U}.0e0 AS p_conv_removed,
           re.removal_effect_micro,
           FLOOR(CAST(re.removal_effect_micro AS DOUBLE)
                 / CAST(NULLIF(t.s, 0) AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS share
    FROM re CROSS JOIN tot_re t
    ORDER BY re.channel
    """


@query("attribution_markov", oracle=_markov_attr_oracle())
def attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution tier, model-based rung (last-touch and
    position-based are RULES; this one is counterfactual) — Markov
    removal-effect attribution: build the first-order per-user journey
    chain (START → channels → CONV at first purchase / DROP), compute
    the absorbing conversion probability by {k} power iterations, then
    for each channel re-run the chain with that channel REMOVED (its
    incoming mass becomes loss — no renormalization, the standard
    removal semantics) and credit the channel its conversion drop.

    Exactness: transition probabilities are integer micro-units
    ((n·1e6) DIV row-total); each iteration is an exact int64
    weighted sum with one integer DIV; the share is a single division
    quantized at 1e-6 — identical arithmetic in the driver loop and
    the oracle's CTE unrolling.

    100 TB: the ONLY data-sized work is one window pass (journey
    order + first-purchase mark need no join) and one map-side
    groupBy to the (src, dst) transition matrix — everything after
    runs on ≤ (channels+2)² rows of METADATA, so the five chain
    evaluations execute as exact-integer driver arithmetic (the
    bounded-state discipline of ops_backfill_plan / dedup_clusters'
    convergence scalar: collecting channel-cardinality state is
    invariant to corpus size; adding channels grows a dim table,
    never the fact cost)."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_user).alias("rn"),
        F.lead("event_type").over(w_user).alias("next_type"),
    ).withColumn(
        "prn",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).over(w_all),
    )
    path = ordered.filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    to_state = F.when(F.col("event_type") == "purchase", "CONV").otherwise(
        F.col("event_type")
    )
    next_state = (
        F.when(F.col("next_type") == "purchase", "CONV")
        .when(F.col("next_type").isNull(), "DROP")
        .otherwise(F.col("next_type"))
    )
    hops = path.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), to_state.alias("dst")
    ).unionByName(
        path.filter(F.col("event_type") != "purchase").select(
            F.col("event_type").alias("src"), next_state.alias("dst")
        )
    )
    cnt = hops.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n")
    )
    # (channels+2)^2-bounded metadata: the collect is invariant to scale
    rows = collect_bounded(
        cnt, (len(_MK_CHANNELS) + 2) ** 2, "Markov transition counts"
    )
    tot: dict[str, int] = {}
    for r in rows:
        tot[r.src] = tot.get(r.src, 0) + r.n
    tmu = {(r.src, r.dst): (r.n * _MK_U) // tot[r.src] for r in rows}
    states = ["START", *_MK_CHANNELS]

    def p_start(removed: str | None) -> int:
        p = {s: 0 for s in states}
        for _ in range(_MK_K):
            new = {}
            for s in states:
                if removed is not None and s == removed and s != "START":
                    continue
                acc = 0
                for c in _MK_CHANNELS:
                    if removed is not None and c == removed:
                        continue
                    acc += tmu.get((s, c), 0) * p.get(c, 0)
                new[s] = tmu.get((s, "CONV"), 0) + acc // _MK_U
            p = new
        return p["START"]

    full = p_start(None)
    res = []
    for c in _MK_CHANNELS:
        removed = p_start(c)
        res.append((c, full, removed, max(full - removed, 0)))
    s_re = sum(r[3] for r in res)
    out_rows = []
    for c, f_, r_, re_ in res:
        share = (
            None
            if s_re == 0
            else __import__("math").floor(re_ / s_re * 1000000.0 + 0.5)
            / 1000000.0
        )
        out_rows.append((c, f_ / _MK_U, r_ / _MK_U, re_, share))
    return spark.createDataFrame(
        out_rows,
        "channel string, p_conv_full double, p_conv_removed double, "
        "removal_effect_micro bigint, share double",
    ).orderBy("channel")


attribution_markov.__doc__ = attribution_markov.__doc__.format(k=_MK_K)


# ---------------------------------------------------------------------------
# seasonal-aware anomaly gate on the decomposition residual (r5f wave)
# ---------------------------------------------------------------------------


@query(
    "ts_anomaly_stl_residual",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1),
    ma AS (
        SELECT day, cents,
               SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
               COUNT(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
               CAST(EXTRACT(isodow FROM day) AS INT) AS wd
        FROM d),
    core AS (
        SELECT day, cents, wd, 7 * cents - sum7 AS det7
        FROM ma WHERE n7 = 7),
    seas AS (
        SELECT wd, SUM(det7) * 1.0e0 / (7.0e0 * COUNT(*)) AS s_wd
        FROM core GROUP BY wd),
    norm AS (SELECT AVG(s_wd) AS s_mean FROM seas),
    res AS (
        SELECT c.day, c.cents,
               {sql_roundn("c.det7 / 7.0e0 - (s.s_wd - n.s_mean)", 4)}
                   AS residual
        FROM core c JOIN seas s ON s.wd = c.wd, norm n),
    med AS (
        SELECT quantile_cont(residual, 0.5e0) AS med,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM res),
    mad AS (
        SELECT ANY_VALUE(med.med) AS med, ANY_VALUE(med.n) AS n,
               quantile_cont(ABS(r.residual - med.med), 0.5e0) AS mad
        FROM res r CROSS JOIN med)
    SELECT r.day, r.cents AS x_cents, r.residual,
           {sql_roundn("m.med", 4)} AS med,
           {sql_roundn("m.mad", 4)} AS mad,
           CAST(CASE WHEN m.mad > 0.0e0
                     THEN CASE WHEN ABS(0.6745e0 * (r.residual - m.med)
                                        / m.mad) > 3.5e0
                               THEN 1 ELSE 0 END
                     WHEN r.residual <> m.med THEN 1 ELSE 0
                END AS INT) AS is_anomaly
    FROM res r CROSS JOIN mad m
    ORDER BY r.day
    """,
)
def ts_anomaly_stl_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly tier, seasonal-aware rung — flag days on the
    DECOMPOSITION RESIDUAL instead of the raw series: trend (centered
    7-day MA) and weekly seasonal (per-ISO-weekday detrended mean) are
    removed first, then the robust median/MAD modified-z gate
    (anomaly_mad's 0.6745·(r−med)/MAD > 3.5) runs on what remains.  A
    plain z/MAD gate on a seasonal series flags every weekend; the
    residual gate flags only days that break their OWN weekday's
    pattern — the composition ts_stl_decompose exists to enable.  A
    degenerate MAD of 0 (perfectly regular residuals) falls back to
    flagging any residual off the median — the standard
    modified-z-score caveat.

    Exactness: the detrended series is the exact integer 7x − Σ₇;
    residuals are the identical expression tree both engines, quantized
    at 1e-4 BEFORE the median/MAD pass, so quantile inputs are
    bit-identical.

    100 TB: the feed collapses to |days| rows map-side; MA window,
    weekday means, and the two exact medians all run over the bounded
    day domain; per-series variants add the series key to every
    PARTITION BY / GROUP BY."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    ma = d.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("n7"),
        (F.pmod(F.dayofweek("day") + 5, F.lit(7)) + 1)
        .cast("int")
        .alias("wd"),
    )
    core = ma.filter(F.col("n7") == 7).select(
        "day", "cents", "wd", (7 * F.col("cents") - F.col("sum7")).alias("det7")
    )
    core = core.localCheckpoint(eager=False)  # seasonal + residual consumers
    seas = core.groupBy("wd").agg(
        (F.sum("det7") * F.lit(1.0) / (F.lit(7.0) * F.count("*"))).alias(
            "s_wd"
        )
    )
    seas = seas.localCheckpoint(eager=False)  # norm + join consumers
    norm = seas.agg(F.avg("s_wd").alias("s_mean"))
    res = (
        core.join(F.broadcast(seas), "wd")
        .crossJoin(F.broadcast(norm))
        .select(
            "day",
            "cents",
            roundn(
                F.col("det7") / F.lit(7.0)
                - (F.col("s_wd") - F.col("s_mean")),
                4,
            ).alias("residual"),
        )
    )
    res = res.localCheckpoint(eager=False)  # med + mad + gate consumers
    med = res.agg(
        F.expr("percentile(residual, 0.5d)").alias("med"),
        F.count("*").cast("long").alias("n"),
    )
    mad = (
        res.crossJoin(F.broadcast(med))
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(ABS(residual - med), 0.5d)").alias("mad"),
        )
    )
    return (
        res.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("cents").alias("x_cents"),
            "residual",
            roundn(F.col("med"), 4).alias("med"),
            roundn(F.col("mad"), 4).alias("mad"),
            F.when(
                F.col("mad") > 0.0,
                F.when(
                    F.abs(
                        F.lit(0.6745)
                        * (F.col("residual") - F.col("med"))
                        / F.col("mad")
                    )
                    > F.lit(3.5),
                    1,
                ).otherwise(0),
            )
            .when(F.col("residual") != F.col("med"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )
