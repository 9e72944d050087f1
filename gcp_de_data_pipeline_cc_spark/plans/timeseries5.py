"""Time-series wave 5: robust outlier repair and symbolic compression.

* ``ts_hampel`` — the HAMPEL FILTER: rolling-median/rolling-MAD outlier
  detection and repair, the robust alternative to z-score cleaning
  (anomaly_zscore) whose mean/σ a single spike can drag.
* ``ts_sax`` — SAX symbolization (Lin et al. 2003): PAA segment
  compression + rank-quantile discretization into a tiny alphabet, the
  classic front-end for motif mining, sequence indexing and
  cheap whole-series similarity — the symbolic complement to
  ts_matrix_profile's exact numeric profile.

Reference parity: the reference repo (Airflow DAG orchestration,
dags/*.py) has no time-series engine; both operators derive from the
driver's analytics mandate on public PySpark/SQL patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.plans.registry import query

# ---------------------------------------------------------------------------
# ts_hampel — rolling median/MAD outlier repair
# ---------------------------------------------------------------------------

#: window half-width (full window = 2·H+1 = 7 days) and the MAD multiple
_HP_H = 3
_HP_K = 3


def _hampel_oracle() -> str:
    w = 2 * _HP_H + 1
    mid = _HP_H + 1  # 1-based index of the median in a sorted 7-list
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    win AS (
        SELECT event_type, day, cnt,
               list(cnt) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN {_HP_H} PRECEDING
                                        AND {_HP_H} FOLLOWING) AS arr
        FROM daily),
    med AS (
        SELECT event_type, day, cnt,
               list_sort(arr)[{mid}] AS med, arr
        FROM win WHERE len(arr) = {w}),
    mad AS (
        SELECT event_type, day, cnt, med,
               list_sort(list_transform(arr, x -> ABS(x - med)))[{mid}]
                   AS mad
        FROM med)
    SELECT event_type, day, cnt,
           CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
           CAST(ABS(cnt - med) > {_HP_K} * mad AS INT) AS is_outlier,
           CAST(CASE WHEN ABS(cnt - med) > {_HP_K} * mad
                     THEN med ELSE cnt END AS BIGINT) AS repaired
    FROM mad
    ORDER BY event_type, day
    """


@query("ts_hampel", oracle=_hampel_oracle())
def ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — HAMPEL FILTER over the daily-count series: a point
    is an outlier when it sits more than {k}·MAD from the rolling
    median of its centered {w}-day window, and is repaired to that
    median. Median and MAD are 50%-breakdown robust — one spike cannot
    drag the estimate the way it drags anomaly_zscore's mean/σ, which
    is why Hampel is the standard pre-cleaning pass before model
    fitting (ts_holt_winters, ts_stl_decompose) and why the repaired
    column, not the raw one, feeds them.

    Exactness: an odd window over integer counts makes the median, the
    MAD and the |x−med| comparison all exact int64 — no floats anywhere
    in the verdict.

    100 TB: the day collapse is one map-side aggregate; the rolling
    window shuffles day-grain rows by event_type (calendar-bounded
    partitions — the SP-audit invariant class); the {w}-element sort
    per row is constant work in codegen (array_sort over a 7-list), so
    total cost is O(days·types), independent of event volume."""
    w = 2 * _HP_H + 1
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    ww = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_HP_H, _HP_H)
    )
    win = daily.select(
        "event_type", "day", "cnt",
        F.collect_list("cnt").over(ww).alias("arr"),
    ).filter(F.size("arr") == w)
    med = F.element_at(F.array_sort("arr"), _HP_H + 1)
    win = win.withColumn("med", med)
    mad = F.element_at(
        F.array_sort(
            F.transform("arr", lambda x: F.abs(x - F.col("med")))
        ),
        _HP_H + 1,
    )
    win = win.withColumn("mad", mad)
    is_out = F.abs(F.col("cnt") - F.col("med")) > _HP_K * F.col("mad")
    return win.select(
        "event_type",
        "day",
        "cnt",
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        is_out.cast("int").alias("is_outlier"),
        F.when(is_out, F.col("med"))
        .otherwise(F.col("cnt"))
        .cast("long")
        .alias("repaired"),
    ).orderBy("event_type", "day")


ts_hampel.__doc__ = ts_hampel.__doc__.format(k=_HP_K, w=2 * _HP_H + 1)


# ---------------------------------------------------------------------------
# ts_sax — PAA + quantile-SAX symbolization
# ---------------------------------------------------------------------------

#: PAA segment length (days), alphabet size, and SAX word length (segments)
_SAX_SEG = 4
_SAX_A = 4
_SAX_W = 3
_SAX_AB = "abcd"


def _sax_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   AS i
        FROM daily),
    seg AS (
        SELECT event_type, (i - 1) // {_SAX_SEG} AS seg,
               CAST(SUM(cnt) AS BIGINT) AS paa,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM idx GROUP BY 1, 2),
    com AS (SELECT * FROM seg WHERE n_days = {_SAX_SEG}),
    sym AS (
        SELECT event_type, seg, paa,
               substr('{_SAX_AB}',
                      CAST(NTILE({_SAX_A}) OVER (PARTITION BY event_type
                                                 ORDER BY paa, seg)
                           AS INT), 1) AS s
        FROM com),
    words AS (
        SELECT event_type,
               s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w AS word
        FROM sym
        WINDOW w AS (PARTITION BY event_type ORDER BY seg))
    SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM words WHERE word IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type, word
    """


@query("ts_sax", oracle=_sax_oracle())
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — SAX SYMBOLIZATION of the daily-count series: PAA
    compression ({seg}-day segment sums), rank-quantile discretization
    into a {a}-letter alphabet (NTILE over the segment values — the
    distribution-free variant of the classic Gaussian breakpoints,
    exact on integer counts), then sliding {w}-segment words counted
    per series. Repeated words = motifs; hapax words = discords — the
    symbolic, index-friendly counterpart of ts_matrix_profile's exact
    numeric answer, and the representation under SAX-family whole-series
    indexes (iSAX) that make trillion-scale series search tractable.

    Exactness: PAA values are int64 segment sums; NTILE ranks on
    (paa, seg) — a total order — so every symbol, word and count is
    engine-exact with no floats anywhere.

    100 TB: day collapse map-side; segment sums and NTILE shuffle
    day-grain rows keyed by series (calendar-bounded partitions); words
    come from two LEADs in the same window pass; output is at most
    |series|·{a}^{w} rows. Everything downstream of the day collapse is
    series-grain, never event-grain."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wd = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "cnt", F.row_number().over(wd).alias("i")
    )
    seg = (
        idx.groupBy(
            "event_type",
            ((F.col("i") - 1) / _SAX_SEG).cast("long").alias("seg"),
        )
        .agg(
            F.sum("cnt").cast("long").alias("paa"),
            F.count("*").alias("n_days"),
        )
        .filter(F.col("n_days") == _SAX_SEG)
    )
    wq = Window.partitionBy("event_type").orderBy("paa", "seg")
    sym = seg.select(
        "event_type",
        "seg",
        F.substring(
            F.lit(_SAX_AB), F.ntile(_SAX_A).over(wq), F.lit(1)
        ).alias("s"),
    )
    ws = Window.partitionBy("event_type").orderBy("seg")
    words = sym.select(
        "event_type",
        F.concat(
            "s",
            F.lead("s", 1).over(ws),
            F.lead("s", 2).over(ws),
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    return (
        words.groupBy("event_type", "word")
        .agg(F.count("*").cast("long").alias("n_windows"))
        .orderBy("event_type", "word")
    )


ts_sax.__doc__ = ts_sax.__doc__.format(seg=_SAX_SEG, a=_SAX_A, w=_SAX_W)


# ---------------------------------------------------------------------------
# seq_funnel_window — deepest ordered step inside one anchored window
# ---------------------------------------------------------------------------

#: funnel window anchored at the FIRST view (hours)
_WF_HOURS = 6


def _funnel_window_oracle() -> str:
    return f"""
    WITH u AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
        FROM events),
    v AS (
        SELECT user_id, MIN(ts) AS t0
        FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
        SELECT e.user_id, v.t0, MIN(e.ts) AS t1
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL {_WF_HOURS} HOUR
        GROUP BY 1, 2),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.t1 AND e.ts <= c.t0 + INTERVAL {_WF_HOURS} HOUR
        GROUP BY 1),
    lv AS (
        SELECT v.user_id,
               1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
                 + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS level
        FROM v
        LEFT JOIN c ON c.user_id = v.user_id
        LEFT JOIN p ON p.user_id = v.user_id),
    hist AS (
        SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM lv GROUP BY 1
        UNION ALL
        SELECT 0 AS level,
               CAST(u.n_total - (SELECT COUNT(*) FROM v) AS BIGINT)
        FROM u)
    SELECT level, n_users,
           FLOOR(n_users * 1.0e0 / u.n_total * 10000.0e0 + 0.5e0)
               / 10000.0e0 AS share
    FROM hist CROSS JOIN u
    WHERE n_users > 0
    ORDER BY level
    """


@query("seq_funnel_window", oracle=_funnel_window_oracle())
def seq_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence tier — windowFunnel (the ClickHouse operator): per user,
    the DEEPEST prefix of the ordered step chain view → click →
    purchase completed inside ONE window of {h} h anchored at the
    user's FIRST view, histogrammed by level (0 = never viewed). The
    semantics differ from funnel_conversion on purpose: that key gives
    each stage its own per-stage window (2 h after click, 24 h after
    view); windowFunnel bounds the WHOLE chain by the anchor — the form
    behavioral product analytics standardizes on because one session
    budget covers the journey.

    Exactness: pure timestamp comparisons and integer counts; the share
    is the single rounded division. Timestamp ties are absent in the
    feed (funnel_conversion's verified property), so strict > ordering
    is deterministic.

    100 TB: each stage aggregates only the PREVIOUS stage's survivors
    (the join prunes before the min-aggregate — cost shrinks
    down-funnel); the final histogram is level-cardinality (≤4 rows).
    Stage relations are user-grain, never event-grain, and each is
    localCheckpointed so the level assembly re-runs nothing."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    horizon = F.col("t0") + F.expr(f"INTERVAL {_WF_HOURS} HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t0")) & (F.col("ts") <= horizon))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=False)
    )
    lv = (
        v.join(c.select("user_id", F.lit(1).alias("has_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("has_p")), "user_id", "left")
        .select(
            (
                F.lit(1)
                + F.coalesce(F.col("has_c"), F.lit(0))
                + F.coalesce(F.col("has_p"), F.lit(0))
            ).alias("level")
        )
    )
    n_total = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_total")
    )
    n_viewed = v.agg(F.count("*").cast("long").alias("n_viewed"))
    zero = (
        n_total.crossJoin(F.broadcast(n_viewed))
        .select(
            F.lit(0).cast("int").alias("level"),
            (F.col("n_total") - F.col("n_viewed")).cast("long").alias(
                "n_users"
            ),
        )
    )
    hist = (
        lv.groupBy(F.col("level").cast("int").alias("level"))
        .agg(F.count("*").cast("long").alias("n_users"))
        .unionByName(zero)
    )
    return (
        hist.crossJoin(F.broadcast(n_total))
        .filter(F.col("n_users") > 0)
        .select(
            "level",
            "n_users",
            (
                F.floor(
                    F.col("n_users")
                    * F.lit(1.0)
                    / F.col("n_total")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("share"),
        )
        .orderBy("level")
    )


seq_funnel_window.__doc__ = seq_funnel_window.__doc__.format(h=_WF_HOURS)


# ---------------------------------------------------------------------------
# ts_siegel_repeated_median — Theil-Sen's documented robust swap
# ---------------------------------------------------------------------------


def _siegel_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.functions.rounding import sql_roundn

    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2),
    slopes AS (
        SELECT a.event_type, a.day AS i,
               (b.cents - a.cents) * 1.0e0 / (b.day - a.day) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day <> b.day),
    inner_med AS (
        SELECT event_type, i, quantile_cont(slope, 0.5) AS med_i
        FROM slopes GROUP BY event_type, i)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_roundn("quantile_cont(med_i, 0.5) / 100.0e0", 4)}
               AS siegel_slope
    FROM inner_med
    GROUP BY event_type
    ORDER BY event_type
    """


@query("ts_siegel_repeated_median", oracle=_siegel_oracle())
def ts_siegel_repeated_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_theilsen's DOCUMENTED ROBUST SWAP, delivered — SIEGEL'S
    REPEATED MEDIAN: slope = medianᵢ( medianⱼ≠ᵢ (yⱼ−yᵢ)/(xⱼ−xᵢ) ). The
    nested median lifts the breakdown point from Theil–Sen's ~29% to
    the theoretical maximum 50% — HALF the days can be corrupted
    (sustained outage, systematic backfill) before the trend estimate
    moves, because a corrupted day poisons only its own inner median,
    one vote of n in the outer one. Same day-grain slope relation as
    ts_theilsen (both directions kept so every anchor i sees all n−1
    partners); cost is identical O(d²) pairs — the swap buys
    robustness, not speed.

    Exactness: integer day indices and daily cents; each pairwise
    slope is one identical double division; both median layers use the
    exact continuous percentile (Spark `percentile` ≡ DuckDB
    `quantile_cont` — the ts_theilsen-proven pairing); one rounding at
    the outer readout.

    100 TB: the pair build is per-series and window-length bounded
    (d ≤ 365 → 66k ordered pairs/series/year), never event-volume
    bounded; the heavy reduction is the daily rollup (map-side). The
    inner medians aggregate on (series, day) — d-sized state; the
    outer on series."""
    from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day"
        ),
    ).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("cents")
    )
    daily = daily.localCheckpoint(eager=False)  # both pair sides
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") != F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("i"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            * F.lit(1.0)
            / (F.col("b.day") - F.col("a.day"))
        ).alias("slope"),
    )
    inner = slopes.groupBy("event_type", "i").agg(
        F.expr("percentile(slope, 0.5d)").alias("med_i")
    )
    return (
        inner.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            roundn(
                F.expr("percentile(med_i, 0.5d)") / F.lit(100.0), 4
            ).alias("siegel_slope"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ts_demand_classification — Syntetos-Boylan intermittency quadrants
# ---------------------------------------------------------------------------

#: the Syntetos-Boylan cutoffs as exact rationals: ADI 1.32, CV^2 0.49
_SB_ADI_NUM, _SB_ADI_DEN = 132, 100
_SB_CV2_NUM, _SB_CV2_DEN = 49, 100


def _demand_class_oracle() -> str:
    return f"""
    WITH span AS (
        SELECT CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) + 1
                    AS BIGINT) AS span_days
        FROM events),
    dem AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS ss
        FROM dem GROUP BY 1),
    cls AS (
        SELECT user_id,
               CAST(span.span_days * {_SB_ADI_DEN}
                    > {_SB_ADI_NUM} * nd AS INT) AS adi_hi,
               CAST((nd * ss - s * s) * {_SB_CV2_DEN}
                    > {_SB_CV2_NUM} * s * s AS INT) AS cv2_hi
        FROM per_user CROSS JOIN span),
    named AS (
        SELECT CASE
                 WHEN adi_hi = 0 AND cv2_hi = 0 THEN 'smooth'
                 WHEN adi_hi = 1 AND cv2_hi = 0 THEN 'intermittent'
                 WHEN adi_hi = 0 AND cv2_hi = 1 THEN 'erratic'
                 ELSE 'lumpy' END AS pattern
        FROM cls),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM named)
    SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR(COUNT(*) * 1.0e0 / tot.n * 10000.0e0 + 0.5e0)
               / 10000.0e0 AS share
    FROM named CROSS JOIN tot
    GROUP BY pattern, tot.n
    ORDER BY pattern
    """


@query("ts_demand_classification", oracle=_demand_class_oracle())
def ts_demand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — SYNTETOS–BOYLAN DEMAND CLASSIFICATION, the routing
    gate in front of intermittent-demand forecasting (ts_croston): each
    purchaser's daily demand series classifies into the standard
    quadrants by ADI (average inter-demand interval = corpus span /
    demand days) and CV² of the nonzero demand sizes — smooth
    (ADI ≤ 1.32, CV² ≤ 0.49) → exponential smoothing; intermittent
    (sparse, regular sizes) → Croston; erratic (dense, wild sizes) →
    robust smoothing; lumpy (both) → the hard class bootstrap methods
    exist for. The output histogram is the forecastability census an
    inventory/capacity team reads before choosing models.

    Exactness: FULLY INTEGER classification — both cutoffs compare via
    cross-multiplication (span·100 > 132·nd; (n·Σx²−S²)·100 > 49·S²
    uses the n-scaled variance identity), so no float ever decides a
    quadrant; the only rounded value is the share readout.

    100 TB: the demand collapse is one map-side (user, day) aggregate;
    per-user state is 3 integers; the census is 4 rows. The span
    scalar is a broadcast min/max."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).cast("long").alias("span_days")
    )
    dem = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    per_user = dem.groupBy("user_id").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    cls = per_user.crossJoin(F.broadcast(span)).select(
        (
            F.col("span_days") * _SB_ADI_DEN > _SB_ADI_NUM * F.col("nd")
        ).cast("int").alias("adi_hi"),
        (
            (F.col("nd") * F.col("ss") - F.col("s") * F.col("s"))
            * _SB_CV2_DEN
            > _SB_CV2_NUM * F.col("s") * F.col("s")
        ).cast("int").alias("cv2_hi"),
    )
    named = cls.select(
        F.when((F.col("adi_hi") == 0) & (F.col("cv2_hi") == 0), "smooth")
        .when((F.col("adi_hi") == 1) & (F.col("cv2_hi") == 0),
              "intermittent")
        .when((F.col("adi_hi") == 0) & (F.col("cv2_hi") == 1), "erratic")
        .otherwise("lumpy")
        .alias("pattern")
    )
    named = named.localCheckpoint(eager=False)  # census + total
    tot = named.agg(F.count("*").cast("long").alias("n"))
    return (
        named.groupBy("pattern")
        .agg(F.count("*").cast("long").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pattern",
            "n_users",
            (
                F.floor(
                    F.col("n_users") * F.lit(1.0) / F.col("n")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("share"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------------------------------------------
# attribution_shapley — exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

#: the four touch channels, alphabetical; bit d of a user's touch mask
_SHAP_CHANNELS = ("click", "error", "signup", "view")


def _shapley_oracle() -> str:
    bit = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << d} ELSE 0 END)"
        for d, ch in enumerate(_SHAP_CHANNELS)
    )
    w24 = (
        "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2"
        " ELSE 6 END"
    )
    return f"""
    WITH touch AS (
        SELECT user_id,
               CAST({bit} AS BIGINT) AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id),
    conv AS (
        SELECT mask, CAST(SUM(converted) AS BIGINT) AS n_conv
        FROM touch GROUP BY mask),
    sets AS (SELECT UNNEST(range(0, 16)) AS s),
    v AS (
        SELECT s.s, CAST(COALESCE(SUM(c.n_conv), 0) AS BIGINT) AS v
        FROM sets s LEFT JOIN conv c ON (c.mask & s.s) = c.mask
        GROUP BY s.s),
    ch AS (SELECT UNNEST(range(0, 4)) AS d),
    marg AS (
        SELECT ch.d, v0.s,
               ({w24.replace('bit_count(s)', 'bit_count(v0.s)')})
                   * (v1.v - v0.v) AS m24
        FROM ch
        JOIN v v0 ON (v0.s & (1 << ch.d)) = 0
        JOIN v v1 ON v1.s = (v0.s | (1 << ch.d))),
    shap AS (
        SELECT d, CAST(SUM(m24) AS BIGINT) AS s24
        FROM marg GROUP BY d),
    full_v AS (
        SELECT MAX(CASE WHEN s = 15 THEN v END) AS v_full,
               MAX(CASE WHEN s = 0 THEN v END) AS v_empty
        FROM v)
    SELECT CASE shap.d WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                       WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
           shap.s24 AS shapley_24ths,
           FLOOR(shap.s24 / 24.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
               AS shapley_conversions,
           CAST(full_v.v_full - full_v.v_empty AS BIGINT)
               AS attributable_conversions
    FROM shap CROSS JOIN full_v
    ORDER BY channel
    """


@query("attribution_shapley", oracle=_shapley_oracle())
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution tier — EXACT SHAPLEY-VALUE attribution, the
    game-theoretic gold standard completing the ladder last-touch →
    position-based → Markov removal-effect → SHAPLEY: each channel's
    credit is its average marginal contribution over every coalition
    order, the unique allocation satisfying efficiency/symmetry/
    dummy/additivity. Coalition worth v(S) = converting users whose
    touch set ⊆ S (monotone by construction); with k = 4 channels the
    2⁴ coalition lattice is enumerated EXACTLY — no sampling, no
    regression approximation.

    Exactness: FULLY INTEGER — touch masks are bit-ORs, v(S) integer
    counts via the subset join (mask & S) = mask, and the permutation
    weights |S|!(3−|S|)!/4! are {{6,2,2,6}}/24, so every Shapley value
    accumulates in integer 24THS (shapley_24ths is the exact answer;
    the /24 readout is the only division). The efficiency axiom
    Σ_c φ_c = v(full) − v(∅) is test-pinned as an exact integer
    identity.

    100 TB: ONE user-grain aggregate touches the fact table (map-side
    bit-OR + conversion flag); everything after is 16-row lattice
    state. k channels cost 2^k lattice rows — exact Shapley is
    tractable exactly when channels are few, which marketing stacks
    are; beyond ~20 channels the documented swap is permutation
    sampling over the same marginal expression."""
    ev = load_table(spark, sf_dir, "events")
    mask = None
    for d, chn in enumerate(_SHAP_CHANNELS):
        term = F.max(
            F.when(F.col("event_type") == chn, F.lit(1 << d)).otherwise(0)
        )
        mask = term if mask is None else mask + term
    touch = ev.groupBy("user_id").agg(
        mask.cast("long").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    conv = touch.groupBy("mask").agg(
        F.sum("converted").cast("long").alias("n_conv")
    )
    sets = spark.range(0, 16).select(F.col("id").cast("long").alias("s"))
    v = (
        sets.join(
            F.broadcast(conv),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
        .localCheckpoint(eager=False)  # marginals (x2) + efficiency
    )
    ch = spark.range(0, 4).select(F.col("id").cast("int").alias("d"))
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("va"))
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("vb"))
    w24 = (
        F.when(F.bit_count(F.col("s0")) == 0, 6)
        .when(F.bit_count(F.col("s0")) == 1, 2)
        .when(F.bit_count(F.col("s0")) == 2, 2)
        .otherwise(6)
    )
    marg = (
        ch.join(
            F.broadcast(v0),
            F.col("s0").bitwiseAND(F.expr("shiftleft(1, d)")) == 0,
        )
        .join(
            F.broadcast(v1),
            F.col("s1") == F.col("s0").bitwiseOR(F.expr("shiftleft(1, d)")),
        )
        .select("d", (w24 * (F.col("vb") - F.col("va"))).alias("m24"))
    )
    shap = marg.groupBy("d").agg(F.sum("m24").cast("long").alias("s24"))
    eff = v.agg(
        (
            F.max(F.when(F.col("s") == 15, F.col("v")))
            - F.max(F.when(F.col("s") == 0, F.col("v")))
        ).cast("long").alias("attributable_conversions")
    )
    channel = (
        F.when(F.col("d") == 0, "click")
        .when(F.col("d") == 1, "error")
        .when(F.col("d") == 2, "signup")
        .otherwise("view")
    )
    return (
        shap.crossJoin(F.broadcast(eff))
        .select(
            channel.alias("channel"),
            F.col("s24").alias("shapley_24ths"),
            (
                F.floor(
                    F.col("s24") / F.lit(24.0) * F.lit(10000.0) + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("shapley_conversions"),
            "attributable_conversions",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# ts_periodogram — DFT power spectrum of the daily series
# ---------------------------------------------------------------------------

#: frequencies probed (cycles over the whole window) and the shared
#: pi literal (both engines evaluate the identical double constant)
_PG_MAXK = 14
_PG_PI = "3.141592653589793"


def _periodogram_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   - 1 AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS nd
        FROM daily),
    ks AS (SELECT UNNEST(range(1, {_PG_MAXK + 1})) AS k),
    terms AS (
        SELECT idx.event_type, ks.k, idx.nd,
               idx.cnt * cos(2.0e0 * {_PG_PI}e0 * ks.k * idx.t / idx.nd)
                   AS cr,
               idx.cnt * sin(2.0e0 * {_PG_PI}e0 * ks.k * idx.t / idx.nd)
                   AS ci
        FROM idx CROSS JOIN ks WHERE ks.k * 2 <= idx.nd),
    spec AS (
        SELECT event_type, k, MIN(nd) AS nd,
               SUM(cr) AS a, SUM(ci) AS b
        FROM terms GROUP BY event_type, k),
    pw AS (
        SELECT event_type, k, nd,
               FLOOR((a * a + b * b) / nd * 100.0e0 + 0.5e0) / 100.0e0
                   AS power
        FROM spec),
    mx AS (
        SELECT event_type, MAX(power) AS pmax FROM pw GROUP BY 1)
    SELECT pw.event_type, CAST(pw.k AS INT) AS k,
           FLOOR(CAST(pw.nd AS DOUBLE) / pw.k * 100.0e0 + 0.5e0)
               / 100.0e0 AS period_days,
           pw.power,
           CAST(pw.power = mx.pmax AS INT) AS is_dominant
    FROM pw JOIN mx USING (event_type)
    ORDER BY pw.event_type, pw.k
    """


@query("ts_periodogram", oracle=_periodogram_oracle())
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension — the DFT PERIODOGRAM of each type's daily series:
    power P(k) = (Σ x·cos(2πkt/N))² + (Σ x·sin(2πkt/N))², normalized
    by N, at whole-window frequencies k = 1..{mk} (k ≤ N/2, the
    Nyquist cut) — the FREQUENCY-DOMAIN seasonality detector beside
    ts_period_detect's time-domain ACF: the ACF finds the dominant
    LAG, the periodogram decomposes VARIANCE BY FREQUENCY, exposing
    harmonics and competing cycles the single-best-lag readout hides
    (the spectral leakage of the raw — untapered — periodogram is the
    documented caveat; a Hann window multiplies in as one extra factor
    per term when sidelobes matter).

    Exactness: integer counts times libm cos/sin of the identical
    double expression (shared π literal, same operand order); the two
    sums are rounded jointly at 2 dp — power magnitudes are O((Σx)²)
    so the 1e-10 summation-order noise sits ~12 digits below the
    rounding grain. The dominant flag compares ROUNDED powers.

    100 TB: the day collapse is the only event-grain work; the
    spectrum is (series × {mk}) state — each (k) coefficient is one
    map-side-combinable sum over day-grain rows. For long series and
    many frequencies the documented swap is an FFT via mapInPandas on
    the per-series day vector (calendar-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "cnt",
        (F.row_number().over(wd) - 1).alias("t"),
        F.count("*").over(wp).alias("nd"),
    )
    ks = spark.range(1, _PG_MAXK + 1).select(F.col("id").alias("k"))
    ang = (
        F.lit(2.0)
        * F.lit(float(_PG_PI))
        * F.col("k")
        * F.col("t")
        / F.col("nd")
    )
    terms = (
        idx.crossJoin(F.broadcast(ks))
        .filter(F.col("k") * 2 <= F.col("nd"))
        .select(
            "event_type",
            "k",
            "nd",
            (F.col("cnt") * F.cos(ang)).alias("cr"),
            (F.col("cnt") * F.sin(ang)).alias("ci"),
        )
    )
    spec = terms.groupBy("event_type", "k").agg(
        F.min("nd").alias("nd"),
        F.sum("cr").alias("a"),
        F.sum("ci").alias("b"),
    )
    pw = spec.select(
        "event_type",
        "k",
        "nd",
        (
            F.floor(
                (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
                / F.col("nd")
                * F.lit(100.0)
                + F.lit(0.5)
            )
            / F.lit(100.0)
        ).alias("power"),
    ).localCheckpoint(eager=False)  # rows + the max flag
    mx = pw.groupBy("event_type").agg(F.max("power").alias("pmax"))
    return (
        pw.join(F.broadcast(mx), "event_type")
        .select(
            "event_type",
            F.col("k").cast("int").alias("k"),
            (
                F.floor(
                    F.col("nd").cast("double") / F.col("k") * F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("period_days"),
            "power",
            (F.col("power") == F.col("pmax")).cast("int").alias(
                "is_dominant"
            ),
        )
        .orderBy("event_type", "k")
    )


ts_periodogram.__doc__ = ts_periodogram.__doc__.format(mk=_PG_MAXK)
