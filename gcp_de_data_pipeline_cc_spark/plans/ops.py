"""Orchestration-ops wave: the Airflow backfill planner.

The reference IS an orchestrator — its DAG re-runs failed/missing
partition loads via Airflow backfills (dags/pipeline_orchestration_dag
.py:212 schedule + catchup semantics; the sensor at :79-95 gates each
daily partition). The operational query behind that workflow:

**ops_backfill_plan** — diff the SOURCE feed's day spine against the
STAGED replica's loaded partitions and emit the minimal set of
CONTIGUOUS day ranges to re-run (`airflow dags backfill -s start -e
end` takes ranges, not day lists). Missing days collapse to ranges via
the gaps-and-islands row_number difference (win_islands' primitive,
applied to the calendar anti-join).

The staged replica is REAL: the query writes a parquet copy of the
events feed to scratch, minus an injected 3-day outage window and the
2-day late-arriving tail, then reads it back and plans the backfill —
so the parquet round-trip, the anti-join, and the range assembly are
all exercised end-to-end. The DuckDB oracle recomputes the same staged
predicate relationally (it cannot see the scratch dir — the Spark side
additionally proves the write/read path).

100 TB scale: both sides collapse to DISTINCT loaded days before any
comparison — the diff runs over day-cardinality rows (the partition
MANIFEST, exactly what a lakehouse table format exposes without
scanning data at all; `file_stats_manifest` is that direct form). The
islands window orders the missing-day table: bounded by the calendar,
not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.plans.registry import query
from gcp_de_data_pipeline_cc_spark.scratch import scratch_dir

#: TPC-H's region dimension: five rows at every scale factor
_REGIONS = 5

#: injected outage: days [min+_OUT_LO, min+_OUT_HI] missing from staging
_OUT_LO, _OUT_HI = 9, 11

#: late-arriving tail: the last _TAIL days haven't landed yet
_TAIL = 2


@query(
    "ops_backfill_plan",
    oracle=f"""
    WITH src AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM src),
    staged AS (
        SELECT s.day FROM src s, bounds
        WHERE s.day NOT BETWEEN bounds.d0 + INTERVAL {_OUT_LO} DAY
                            AND bounds.d0 + INTERVAL {_OUT_HI} DAY
          AND s.day <= bounds.d1 - INTERVAL {_TAIL} DAY),
    spine AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds),
    missing AS (
        SELECT day FROM spine
        WHERE day NOT IN (SELECT day FROM staged)),
    grp AS (
        SELECT day,
               day - CAST(row_number() OVER (ORDER BY day) AS INTEGER)
                   AS grp_key
        FROM missing)
    SELECT MIN(day) AS range_start, MAX(day) AS range_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM grp GROUP BY grp_key
    ORDER BY range_start
    """,
)
def ops_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: stage the events feed to scratch parquet minus
    an outage window and the late tail, read it back, anti-join the
    calendar spine, and collapse missing days into contiguous
    re-run ranges (gaps-and-islands)."""
    ev = load_table(spark, sf_dir, "events")
    src_days = ev.select(F.to_date("ts").alias("day")).distinct()
    src_days = src_days.localCheckpoint(eager=False)  # bounds + spine + stage
    d0, d1 = collect_bounded(
        src_days.agg(F.min("day"), F.max("day")), 1, "event day bounds"
    )[0]

    # land the staged replica (full rows, partition-pruned predicate) —
    # a REAL parquet round trip, not a relational simulation
    staged_path = scratch_dir("ops_backfill_plan")
    ev.filter(
        ~F.to_date("ts").between(
            F.date_add(F.lit(d0), _OUT_LO), F.date_add(F.lit(d0), _OUT_HI)
        )
        & (F.to_date("ts") <= F.date_sub(F.lit(d1), _TAIL))
    ).write.mode("overwrite").parquet(staged_path)
    staged_days = (
        spark.read.parquet(staged_path)
        .select(F.to_date("ts").alias("day"))
        .distinct()
    )

    spine = spark.sql(
        "SELECT explode(sequence(to_date('{0}'), to_date('{1}'), "
        "interval 1 day)) AS day".format(d0.isoformat(), d1.isoformat())
    )
    missing = spine.join(staged_days, "day", "left_anti")
    # islands over the ≤|calendar| missing-day rows
    w = Window.orderBy("day")
    grp = missing.withColumn(
        "grp_key", F.datediff(F.col("day"), F.lit(d0)) - F.row_number().over(w)
    )
    return (
        grp.groupBy("grp_key")
        .agg(
            F.min("day").alias("range_start"),
            F.max("day").alias("range_end"),
            F.count("*").alias("n_days"),
        )
        .drop("grp_key")
        .orderBy("range_start")
    )


# ---------------------------------------------------------------------------
# CPM critical path over the pipeline DAG (r3k wave)
# ---------------------------------------------------------------------------

#: the reference pipeline's task graph (dags/pipeline_orchestration_dag
#: .py: sensor :79-95 → ingest → staging :101-143 → QC gates :149-167 →
#: curation/SCD2 → archive :188-206, with the trigger_dataflow.sh and
#: dbt branches) as (task, duration_minutes) + edges literals shared by
#: both engines (the sql_values_inline pattern)
_TASKS = [
    ("file_sensor", 5), ("gcs_to_raw", 15), ("raw_to_staging", 20),
    ("trigger_dataflow", 25), ("qc_gates", 10), ("dbt_run", 20),
    ("staging_to_curation", 25), ("scd2_merge", 15), ("archive", 5),
]
_EDGES = [
    ("file_sensor", "gcs_to_raw"),
    ("gcs_to_raw", "raw_to_staging"),
    ("gcs_to_raw", "trigger_dataflow"),
    ("raw_to_staging", "qc_gates"),
    ("trigger_dataflow", "staging_to_curation"),
    ("qc_gates", "staging_to_curation"),
    ("qc_gates", "dbt_run"),
    ("staging_to_curation", "scd2_merge"),
    ("dbt_run", "scd2_merge"),
    ("scd2_merge", "archive"),
]


def _cpm_sql(dialect_max_over: str = "MAX(through) OVER ()") -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    fwd(task, ef) AS (
        SELECT t.task, t.dur FROM tasks t
        WHERE t.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, f.ef + t.dur
        FROM fwd f JOIN edges e ON e.src = f.task
        JOIN tasks t ON t.task = e.dst),
    ef_tab(task, ef) AS (SELECT task, MAX(ef) FROM fwd GROUP BY task),
    bwd(task, tail) AS (
        SELECT t.task, t.dur FROM tasks t
        WHERE t.task NOT IN (SELECT src FROM edges)
        UNION ALL
        SELECT e.src, b.tail + t.dur
        FROM bwd b JOIN edges e ON e.dst = b.task
        JOIN tasks t ON t.task = e.src),
    tail_tab(task, tail) AS (SELECT task, MAX(tail) FROM bwd GROUP BY task),
    cpm AS (
        SELECT t.task, CAST(t.dur AS BIGINT) AS dur_min,
               CAST(e.ef - t.dur AS BIGINT) AS es,
               CAST(e.ef AS BIGINT) AS ef,
               CAST(e.ef - t.dur + b.tail AS BIGINT) AS through
        FROM tasks t
        JOIN ef_tab e ON e.task = t.task
        JOIN tail_tab b ON b.task = t.task)
    SELECT task, dur_min, es, ef,
           CAST({dialect_max_over} - through AS BIGINT) AS slack,
           through = {dialect_max_over} AS is_critical
    FROM cpm
    ORDER BY es, task
    """


@query("ops_dag_critical_path", oracle=_cpm_sql())
def ops_dag_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path method over the reference pipeline's task DAG:
    forward pass (earliest start/finish) and backward pass (longest
    tail to completion) as two RECURSIVE CTE path enumerations, slack =
    makespan − (ES + tail), critical ⇔ slack 0. The scheduling analysis
    an orchestration owner runs to know which task delays the daily
    load — the reference's own domain, expressed as a query.

    Identical SQL text runs on both engines (Spark 4 recursive CTE,
    SPARK-24497); every quantity is integer minutes, so the path argmax
    can never flip. The makespan normalizer is a window MAX over the
    task table, not a scalar join.

    100 TB: the DAG is orchestration metadata (dozens of rows) — the
    recursion depth is the graph depth; path enumeration is exponential
    only in pathological dense DAGs, where the iterative relaxation
    form (dedup_clusters' loop shape, one MAX-groupBy per depth level)
    is the swap. The ~4 s local wall time is Spark's per-recursion-step
    job scheduling (2 recursions × depth jobs), a fixed overhead
    INVARIANT to data scale — not a data-dependent cost."""
    return spark.sql(_cpm_sql())


# ---------------------------------------------------------------------------
# DAG impact sets (r4b wave)
# ---------------------------------------------------------------------------

def _impact_sql(
    dialect_listagg: str = "STRING_AGG(DISTINCT node, ',' ORDER BY node)",
) -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    reach(root, node) AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT r.root, e.dst
        FROM reach r JOIN edges e ON e.src = r.node),
    down AS (
        SELECT root AS task,
               CAST(COUNT(DISTINCT node) AS BIGINT) AS n_downstream
        FROM reach GROUP BY root),
    up AS (
        SELECT node AS task,
               CAST(COUNT(DISTINCT root) AS BIGINT) AS n_upstream
        FROM reach GROUP BY node),
    dlist AS (
        SELECT root AS task, {dialect_listagg} AS downstream
        FROM reach GROUP BY root)
    SELECT t.task,
           COALESCE(up.n_upstream, 0) AS n_upstream,
           COALESCE(down.n_downstream, 0) AS n_downstream,
           COALESCE(dlist.downstream, '') AS downstream
    FROM tasks t
    LEFT JOIN down ON down.task = t.task
    LEFT JOIN up ON up.task = t.task
    LEFT JOIN dlist ON dlist.task = t.task
    ORDER BY t.task
    """


@query("ops_dag_impact_set", oracle=_impact_sql())
def ops_dag_impact_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive IMPACT analysis over the reference pipeline's task
    DAG (dags/pipeline_orchestration_dag.py — the same shared literals
    as ops_dag_critical_path): for every task, how many tasks sit
    upstream of it (its blast-radius as a DEPENDENT) and the full
    downstream closure it would take out on failure (count + sorted
    list). The "what breaks if this task fails" query every on-call
    runbook needs, beside CPM's "what delays the deadline".

    The closure is path enumeration via recursive CTE with UNION ALL —
    termination is guaranteed on a DAG (finitely many paths), diamonds
    produce duplicate rows that the COUNT(DISTINCT)/ordered-listagg
    rollups collapse; the SQL text is shared except the one
    dialect-divergent aggregate (Spark: sorted collect_set; DuckDB:
    ordered STRING_AGG DISTINCT — same sorted string), the
    ops_dag_critical_path parameterization. All counts integer.

    100 TB: orchestration metadata is dozens of rows; for data-scale
    graphs the iterative-relaxation form (dedup_clusters' checkpointed
    loop) replaces path enumeration, same output contract."""
    return spark.sql(
        _impact_sql(
            dialect_listagg="concat_ws(',', sort_array(collect_set(node)))"
        )
    )


# ---------------------------------------------------------------------------
# retry/timeout budget (r4 wave)
# ---------------------------------------------------------------------------

#: the reference's default_args retry policy
#: (dags/pipeline_orchestration_dag.py:34-37): retries, retry_delay=5 min,
#: execution_timeout=2 h — shared literals on both engines.  The reference
#: ships retries=0; the budget query answers "what retry policy FITS".
_RETRIES = 2
_RETRY_DELAY_MIN = 5
_EXEC_TIMEOUT_MIN = 120


def _retry_budget_sql(dialect_intdiv: str = "//") -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    r, dl, to = _RETRIES, _RETRY_DELAY_MIN, _EXEC_TIMEOUT_MIN
    wc = f"(({r} + 1) * t.dur + {r} * {dl})"
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    fwd(task, ef) AS (
        SELECT t.task, {wc} FROM tasks t
        WHERE t.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, f.ef + {wc}
        FROM fwd f JOIN edges e ON e.src = f.task
        JOIN tasks t ON t.task = e.dst),
    mk AS (SELECT CAST(MAX(ef) AS BIGINT) AS worst_makespan_min FROM fwd)
    SELECT t.task,
           CAST(t.dur AS BIGINT) AS dur_min,
           CAST({r} AS INT) AS retries,
           CAST({dl} AS BIGINT) AS retry_delay_min,
           CAST({to} AS BIGINT) AS execution_timeout_min,
           CAST({wc} AS BIGINT) AS worst_case_min,
           {wc} <= {to} AS fits_timeout,
           CAST(GREATEST(({to} - t.dur) {dialect_intdiv} (t.dur + {dl}), 0)
                AS BIGINT) AS max_retries_within_timeout,
           mk.worst_makespan_min
    FROM tasks t, mk
    ORDER BY t.task
    """


@query("ops_retry_budget", oracle=_retry_budget_sql("//"))
def ops_retry_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRY/TIMEOUT budget over the reference pipeline's task DAG —
    the ops semantics of ``default_args`` (retries, retry_delay,
    execution_timeout; dags/pipeline_orchestration_dag.py:34-37) that
    had no engine analog: per task, the worst-case wall clock under the
    policy ((retries+1)·dur + retries·delay), whether that fits the 2 h
    execution timeout, and the LARGEST retry count that would fit —
    the number an on-call actually tunes.  The DAG-level readout is the
    worst-case makespan: the critical-path forward pass re-run with
    worst-case task durations (every task exhausts its retries), i.e.
    "if tonight goes maximally badly, when does the load land".

    Identical SQL text on both engines (recursive CTE, the
    ops_dag_critical_path discipline) except the integer-division
    token (Spark ``DIV`` ↔ DuckDB ``//``); every quantity is integer
    minutes — nothing can flip.

    100 TB: orchestration metadata — invariant to data scale; the
    recursion is bounded by DAG depth."""
    return spark.sql(_retry_budget_sql("DIV"))


# ---------------------------------------------------------------------------
# column-level lineage closure (r4w wave)
# ---------------------------------------------------------------------------

#: column-level lineage edges (child column <- parent column) for the
#: reference pipeline's raw -> staging -> curated -> report tiers
#: (dags/pipeline_orchestration_dag.py task chain, taken to column grain)
_LINEAGE_EDGES = (
    ("staging.o_orderkey", "raw.o_orderkey"),
    ("staging.o_custkey", "raw.o_custkey"),
    ("staging.o_orderdate", "raw.o_orderdate"),
    ("staging.o_totalprice", "raw.o_totalprice"),
    ("curated.order_year", "staging.o_orderdate"),
    ("curated.gross_price", "staging.o_totalprice"),
    ("curated.net_price", "staging.o_totalprice"),
    ("curated.cust_nation", "staging.o_custkey"),
    ("curated.cust_nation", "dim.nation_name"),
    ("curated.n_orders", "staging.o_orderkey"),
    ("report.revenue_by_nation", "curated.net_price"),
    ("report.revenue_by_nation", "curated.cust_nation"),
    ("report.orders_per_year", "curated.order_year"),
    ("report.orders_per_year", "curated.n_orders"),
    ("report.margin", "curated.net_price"),
    ("report.margin", "curated.gross_price"),
)


def _lineage_sql() -> str:
    edges_values = ", ".join(f"('{c}', '{p}')" for c, p in _LINEAGE_EDGES)
    return f"""
    WITH RECURSIVE edges(child, parent) AS (VALUES {edges_values}),
    reach(col, anc, depth) AS (
        SELECT child, parent, 1 FROM edges
        UNION ALL
        SELECT r.col, e.parent, r.depth + 1
        FROM reach r JOIN edges e ON e.child = r.anc),
    closure AS (
        SELECT col, anc,
               CAST(MIN(depth) AS INT) AS min_depth,
               CAST(MAX(depth) AS INT) AS max_depth,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM reach GROUP BY col, anc)
    SELECT c.col, c.anc, c.min_depth, c.max_depth, c.n_paths,
           CAST(CASE WHEN EXISTS (
                    SELECT 1 FROM edges e WHERE e.child = c.anc)
                THEN 0 ELSE 1 END AS INT) AS is_root_source
    FROM closure c
    ORDER BY c.col, c.anc
    """


@query("ops_column_lineage", oracle=_lineage_sql())
def ops_column_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level lineage closure over the pipeline's tier-to-tier
    column mappings — the "where does this report number actually come
    from" query a data-platform catalog answers: for every (column,
    ancestor) pair in the transitive closure, the shortest and longest
    derivation depth, the number of DISTINCT derivation paths (the
    diamond through gross_price/net_price gives report.margin TWO
    paths to staging.o_totalprice — path-count is what flags
    double-counted inputs in impact review), and whether the ancestor
    is a root source (no incoming edge — raw feed or static dim).

    Identical recursive-CTE SQL text runs on both engines (Spark 4,
    SPARK-24497); all outputs are integers off the path enumeration —
    nothing to quantize.

    100 TB: lineage is METADATA — dozens-to-thousands of rows
    regardless of data volume; recursion depth = tier depth.  The same
    closure shape scales to a real catalog because each step is an
    equi-join on the child column key; a cyclic accident terminates at
    Spark's recursion depth guard rather than looping (and cycles are
    a modeling bug this query surfaces via exploding n_paths)."""
    return spark.sql(_lineage_sql())


# ---------------------------------------------------------------------------
# schema-evolution compatibility classifier (r5i wave)
# ---------------------------------------------------------------------------

#: (version, column, type, has_default) — two successive versions of the
#: staging orders schema (reference pipeline tier), with the classic
#: change set: widened type, added-with-default, added-required, dropped
_SCHEMA_V1 = (
    ("o_orderkey", "int", 0),
    ("o_custkey", "int", 0),
    ("o_totalprice", "float", 0),
    ("o_orderdate", "date", 0),
    ("o_comment", "string", 0),
)
_SCHEMA_V2 = (
    ("o_orderkey", "long", 0),       # widened — backward-compatible
    ("o_custkey", "int", 0),         # unchanged
    ("o_totalprice", "double", 0),   # widened
    ("o_orderdate", "date", 0),      # unchanged
    ("o_channel", "string", 1),      # added WITH default — backward ok
    ("o_region", "string", 0),       # added REQUIRED — breaks backward
)                                     # o_comment dropped — breaks forward

#: widenings considered safe promotions (reader of old type accepts new)
_WIDEN = (("int", "long"), ("float", "double"), ("int", "double"))


def _schema_compat_sql() -> str:
    v1 = ", ".join(f"('{c}', '{t}', {d})" for c, t, d in _SCHEMA_V1)
    v2 = ", ".join(f"('{c}', '{t}', {d})" for c, t, d in _SCHEMA_V2)
    widen = ", ".join(f"('{a}', '{b}')" for a, b in _WIDEN)
    return f"""
    WITH v1(col, typ, has_default) AS (VALUES {v1}),
    v2(col, typ, has_default) AS (VALUES {v2}),
    widen(f, t) AS (VALUES {widen}),
    j AS (
        SELECT COALESCE(v1.col, v2.col) AS col,
               v1.typ AS typ_old, v2.typ AS typ_new,
               v2.has_default AS new_default,
               v1.col IS NOT NULL AS in_old,
               v2.col IS NOT NULL AS in_new
        FROM v1 FULL JOIN v2 ON v1.col = v2.col),
    cls AS (
        SELECT col, typ_old, typ_new,
               CASE
                 WHEN in_old AND in_new AND typ_old = typ_new
                   THEN 'unchanged'
                 WHEN in_old AND in_new AND EXISTS (
                     SELECT 1 FROM widen w
                     WHERE w.f = typ_old AND w.t = typ_new)
                   THEN 'widened'
                 WHEN in_old AND in_new THEN 'type_changed'
                 WHEN NOT in_old AND new_default = 1 THEN 'added_default'
                 WHEN NOT in_old THEN 'added_required'
                 ELSE 'dropped'
               END AS change,
               CASE
                 WHEN in_old AND in_new AND typ_old = typ_new THEN TRUE
                 WHEN in_old AND in_new AND EXISTS (
                     SELECT 1 FROM widen w
                     WHERE w.f = typ_old AND w.t = typ_new) THEN TRUE
                 WHEN in_old AND in_new THEN FALSE
                 WHEN NOT in_old AND new_default = 1 THEN TRUE
                 WHEN NOT in_old THEN FALSE
                 ELSE TRUE
               END AS backward_ok,
               CASE
                 WHEN in_old AND in_new AND typ_old = typ_new THEN TRUE
                 WHEN in_old AND in_new THEN FALSE
                 WHEN NOT in_old THEN TRUE
                 ELSE FALSE
               END AS forward_ok
        FROM j)
    SELECT col, typ_old, typ_new, change, backward_ok, forward_ok,
           (SELECT CASE WHEN bool_and(backward_ok) AND
                             bool_and(forward_ok) THEN 'FULL'
                        WHEN bool_and(backward_ok) THEN 'BACKWARD'
                        WHEN bool_and(forward_ok) THEN 'FORWARD'
                        ELSE 'NONE' END
            FROM cls) AS table_compat
    FROM cls
    ORDER BY col
    """


@query("ops_schema_evolution_compat", oracle=_schema_compat_sql())
def ops_schema_evolution_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platform ops — the SCHEMA-REGISTRY compatibility classifier:
    diff two schema versions column by column (unchanged / widened /
    type_changed / added_default / added_required / dropped), decide
    per column whether OLD readers survive NEW data (backward) and NEW
    readers survive OLD data (forward), and roll the table verdict up
    to FULL / BACKWARD / FORWARD / NONE — the compatibility-mode gate a
    schema registry enforces before accepting an evolution
    (`schema_evolution_read` exercises the mergeSchema READ mechanics;
    this is the admission DECISION).  Rules: widening promotions are
    backward-safe; added-with-default is backward-safe; added-required
    breaks backward; any drop breaks forward; in-place type change
    breaks both.

    Identical SQL text both engines; all decisions are string/boolean
    algebra on schema metadata — nothing to quantize.

    100 TB: schemas are metadata — invariant to data volume; the same
    classifier runs over a thousand-table registry as a dim-sized
    relation."""
    return spark.sql(_schema_compat_sql())


# --------------------------------------------------------------------------
# ops_incident_mttr — incident MTTR / MTBF from the event stream
# --------------------------------------------------------------------------


@query(
    "ops_incident_mttr",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               event_type = 'error' AS is_err
        FROM events),
    runs AS (
        SELECT user_id, us, is_err,
               LAG(is_err) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id) AS prev_err,
               MIN(CASE WHEN NOT is_err THEN us END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN 1 FOLLOWING
                                  AND UNBOUNDED FOLLOWING) AS rec_us
        FROM ev),
    incidents AS (
        SELECT user_id, us, rec_us,
               rec_us - us AS ttr_us,
               us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   AS tbf_us
        FROM runs
        WHERE is_err AND (prev_err IS NULL OR NOT prev_err))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_incidents,
           CAST(COUNT(ttr_us) AS BIGINT) AS n_recovered,
           CAST(COUNT(*) - COUNT(ttr_us) AS BIGINT) AS n_open,
           CAST(SUM(ttr_us) // NULLIF(COUNT(ttr_us), 0) AS BIGINT)
               AS mean_ttr_us,
           CAST(MAX(ttr_us) AS BIGINT) AS max_ttr_us,
           CAST(SUM(tbf_us) // NULLIF(COUNT(tbf_us), 0) AS BIGINT)
               AS mean_tbf_us,
           FLOOR(CAST(SUM(ttr_us) // NULLIF(COUNT(ttr_us), 0) AS DOUBLE)
                 / 1000000.0e0 * 1000.0e0 + 0.5e0) / 1000.0e0
               AS mttr_seconds
    FROM incidents
    """,
)
def ops_incident_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-ops tier — MTTR / MTBF: each per-user RUN of 'error'
    events is one incident (gaps-and-islands run-start detection via
    the lag-change flag); recovery is the first subsequent non-error
    event; time-to-recovery and time-between-failures aggregate to the
    single-row SRE scorecard (`sli_error_budget`'s companion: that key
    budgets error VOLUME, this one measures incident DURATION).

    Exactness: timestamps are exact int64 microseconds (unix_micros /
    epoch_us); TTR/TBF are integer differences; the means are integer
    DIV with NULLIF(n,0) guards; the readable-seconds column quantizes
    the integer mean once at final projection.

    Open incidents (an error run with no later non-error event in the
    observation window) count in ``n_incidents`` but not in MTTR —
    the standard right-censoring convention (`survival_kaplan_meier`
    handles the censored analysis properly).

    100 TB: one hash exchange on user_id serves every window (lag,
    following-MIN, incident lag); partial aggregation collapses to one
    row map-side. Run-start detection never materializes runs.

    Reference parity: the reference's `email_on_failure`/retry args
    (dags/pipeline_orchestration_dag.py:31-37) produce exactly this
    incident stream in Airflow's metadata DB; this is the rollup an
    on-call reads over it.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_follow = w.rowsBetween(1, Window.unboundedFollowing)
    runs = ev.select(
        "user_id",
        "us",
        "is_err",
        F.lag("is_err").over(w).alias("prev_err"),
        F.min(F.when(~F.col("is_err"), F.col("us"))).over(w_follow).alias(
            "rec_us"
        ),
    )
    inc = runs.where(
        F.col("is_err")
        & (F.col("prev_err").isNull() | ~F.col("prev_err"))
    ).select(
        "user_id",
        "us",
        (F.col("rec_us") - F.col("us")).alias("ttr_us"),
        (
            F.col("us")
            - F.lag("us").over(
                Window.partitionBy("user_id").orderBy("us")
            )
        ).alias("tbf_us"),
    )
    agg = inc.agg(
        F.count("*").cast("long").alias("n_incidents"),
        F.count("ttr_us").cast("long").alias("n_recovered"),
        (F.count("*") - F.count("ttr_us")).cast("long").alias("n_open"),
        F.expr(
            "CAST(SUM(ttr_us) DIV NULLIF(COUNT(ttr_us), 0) AS BIGINT)"
        ).alias("mean_ttr_us"),
        F.max("ttr_us").cast("long").alias("max_ttr_us"),
        F.expr(
            "CAST(SUM(tbf_us) DIV NULLIF(COUNT(tbf_us), 0) AS BIGINT)"
        ).alias("mean_tbf_us"),
    )
    return agg.select(
        "*",
        (
            F.floor(
                F.col("mean_ttr_us").cast("double")
                / F.lit(1000000.0)
                * F.lit(1000.0)
                + F.lit(0.5)
            )
            / F.lit(1000.0)
        ).alias("mttr_seconds"),
    )


# --------------------------------------------------------------------------
# ops_rtbf_purge — right-to-be-forgotten cascade audit
# --------------------------------------------------------------------------

#: deletion-request coin: customers whose salted md5 byte < 0x08
#: (~3% of the base) have requested erasure
_RTBF_REQ_SQL = (
    "SUBSTR(md5('rtbf:' || CAST(c_custkey AS VARCHAR)), 1, 2) < '08'"
)


@query(
    "ops_rtbf_purge",
    oracle=f"""
    WITH req AS (
        SELECT c_custkey FROM customer WHERE {_RTBF_REQ_SQL}),
    o_purge AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM req)),
    l_purge AS (
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM o_purge)),
    stats AS (
        SELECT 'customer' AS table_name,
               (SELECT COUNT(*) FROM customer) AS rows_before,
               (SELECT COUNT(*) FROM req) AS rows_purged,
               0 AS orphans_if_naive
        UNION ALL
        SELECT 'orders',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM o_purge),
               (SELECT COUNT(*) FROM o_purge)
        UNION ALL
        SELECT 'lineitem',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM l_purge),
               (SELECT COUNT(*) FROM l_purge))
    SELECT table_name,
           CAST(rows_before AS BIGINT) AS rows_before,
           CAST(rows_purged AS BIGINT) AS rows_purged,
           CAST(rows_before - rows_purged AS BIGINT) AS rows_after,
           CAST(orphans_if_naive AS BIGINT) AS orphans_if_naive,
           FLOOR(CAST(rows_purged AS DOUBLE)
                 / CAST(rows_before AS DOUBLE) * 1000000.0e0 + 0.5e0)
               / 1000000.0e0 AS purge_rate
    FROM stats
    ORDER BY table_name
    """,
)
def ops_rtbf_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-ops tier — RIGHT-TO-BE-FORGOTTEN CASCADE AUDIT: given a
    deletion-request set (a deterministic ~3% md5 coin over customers
    — the replayable stand-in for a DSAR queue), compute the full
    referential cascade customer → orders → lineitem and emit the
    per-table purge ledger: rows before / purged / after, the purge
    rate, and ``orphans_if_naive`` — the rows that WOULD dangle if the
    operator deleted only the customer tier (the classic partial-purge
    bug: every purged order is an orphan of a naive customer-only
    delete, every purged lineitem an orphan of an orders-stopping
    one).  The law test breaks the cascade deliberately and watches
    the orphan column catch it.

    Exactness: pure integer counts off semi-join cardinalities; the
    rate quantizes once at final projection.

    100 TB: three LEFT SEMI joins on their natural keys (request set →
    orders on custkey, purged orders → lineitem on orderkey) — each
    one exchange, with AQE free to broadcast the request side while
    it is genuinely small; counts collapse map-side.  The physical
    delete is `partition_overwrite` / `log_compact_retention`'s
    anti-join write applied per table with these same relations.

    Reference parity: the reference's archive stage moves processed
    data out of the landing zone (dags/pipeline_orchestration_dag.py
    :142-177); RTBF is that lifecycle action driven by a legal
    trigger, with the audit trail compliance requires.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    req = customer.where(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("rtbf:"), F.col("c_custkey").cast("string")
                )
            ),
            1,
            2,
        )
        < "08"
    ).select("c_custkey")
    req = req.localCheckpoint(eager=False)  # two consumers
    o_purge = orders.join(
        req, orders.o_custkey == req.c_custkey, "left_semi"
    ).select("o_orderkey")
    o_purge = o_purge.localCheckpoint(eager=False)  # count + lineitem
    l_purge = lineitem.join(
        o_purge, lineitem.l_orderkey == o_purge.o_orderkey, "left_semi"
    )
    counts = [
        customer.agg(
            F.lit("customer").alias("table_name"),
            F.count("*").cast("long").alias("rows_before"),
        ).crossJoin(
            F.broadcast(
                req.agg(F.count("*").cast("long").alias("rows_purged"))
            )
        ).select(
            "table_name",
            "rows_before",
            "rows_purged",
            F.lit(0).cast("long").alias("orphans_if_naive"),
        ),
        orders.agg(
            F.lit("orders").alias("table_name"),
            F.count("*").cast("long").alias("rows_before"),
        ).crossJoin(
            F.broadcast(
                o_purge.agg(
                    F.count("*").cast("long").alias("rows_purged")
                )
            )
        ).select(
            "table_name",
            "rows_before",
            "rows_purged",
            F.col("rows_purged").alias("orphans_if_naive"),
        ),
        lineitem.agg(
            F.lit("lineitem").alias("table_name"),
            F.count("*").cast("long").alias("rows_before"),
        ).crossJoin(
            F.broadcast(
                l_purge.agg(
                    F.count("*").cast("long").alias("rows_purged")
                )
            )
        ).select(
            "table_name",
            "rows_before",
            "rows_purged",
            F.col("rows_purged").alias("orphans_if_naive"),
        ),
    ]
    stats = counts[0].unionByName(counts[1]).unionByName(counts[2])
    return stats.select(
        "table_name",
        "rows_before",
        "rows_purged",
        (F.col("rows_before") - F.col("rows_purged"))
        .cast("long")
        .alias("rows_after"),
        "orphans_if_naive",
        (
            F.floor(
                F.col("rows_purged").cast("double")
                / F.col("rows_before").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("purge_rate"),
    ).orderBy("table_name")


# --------------------------------------------------------------------------
# ops_littles_law — L = λW cross-derivation audit
# --------------------------------------------------------------------------

#: session gap (shares ts_bounce_rate's sessionization contract)
_LL_GAP_S = 1800


@query(
    "ops_littles_law",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) // 60000000 AS mn FROM events),
    flagged AS (
        SELECT user_id, mn,
               CASE WHEN mn - LAG(mn) OVER (PARTITION BY user_id
                                            ORDER BY mn)
                         > {_LL_GAP_S} // 60
                         OR LAG(mn) OVER (PARTITION BY user_id
                                          ORDER BY mn) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM ev),
    sess AS (
        SELECT user_id, mn,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY mn
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged),
    per AS (
        SELECT user_id, sid,
               CAST(MIN(mn) AS BIGINT) AS s_mn,
               CAST(MAX(mn) AS BIGINT) AS e_mn
        FROM sess GROUP BY 1, 2),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(e_mn - s_mn) AS BIGINT) AS total_dur_mn,
               CAST(MAX(e_mn) - MIN(s_mn) AS BIGINT) AS window_mn
        FROM per),
    deltas AS (
        SELECT mn, CAST(SUM(d) AS BIGINT) AS delta FROM (
            SELECT s_mn AS mn, 1 AS d FROM per
            UNION ALL
            SELECT e_mn, -1 FROM per)
        GROUP BY mn),
    sweep AS (
        SELECT mn,
               SUM(delta) OVER (ORDER BY mn
                                ROWS UNBOUNDED PRECEDING) AS conc,
               LEAD(mn) OVER (ORDER BY mn) - mn AS gap
        FROM deltas),
    integ AS (
        SELECT CAST(SUM(conc * gap) AS BIGINT) AS sweep_mn
        FROM sweep WHERE gap IS NOT NULL)
    SELECT t.n_sessions, t.total_dur_mn, t.window_mn,
           FLOOR(CAST(t.n_sessions AS DOUBLE)
                 / CAST(t.window_mn AS DOUBLE) * 60.0e0
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS lambda_per_hour,
           CAST(t.total_dur_mn // t.n_sessions AS BIGINT) AS w_mean_mn,
           FLOOR(CAST(t.total_dur_mn AS DOUBLE)
                 / CAST(t.window_mn AS DOUBLE)
                 * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS l_timeavg,
           i.sweep_mn,
           i.sweep_mn = t.total_dur_mn AS identity_exact
    FROM tot t, integ i
    """,
)
def ops_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-ops tier — LITTLE'S LAW cross-derivation: from the
    sessionized stream, compute concurrency-in-system two independent
    ways — (a) Σ session-durations (occupancy integral by definition)
    and (b) the SWEEP LINE: +1/−1 deltas per minute, running
    concurrency × gap summed — and assert integer equality
    (``identity_exact``): L·T = λ·W·T = Σdur is the law, and matching
    two different computations of the same integral is the audit form
    (`qc_checksum_chunks`' cross-derivation discipline applied to
    queueing).  Emits λ (arrivals/hour), W (mean session minutes) and
    L (time-averaged concurrency) — the capacity-planning triple.

    Exactness: times truncate to integer minutes at the scan; both
    integrals are exact int64 sums; λ/L quantize once at projection.

    100 TB: the session build is one user exchange; the sweep runs on
    the minute-grain delta table — bounded by the calendar window
    (≤ 43k rows/month), never by event volume — via the two-phase
    global_rank cumsum (range exchange + __pid offsets) with the gap
    recovered by a rank self-join, so even a years-long minute grid
    never funnels through one reducer (sp_audit r5: the old bare
    Window.orderBy carried 986→8949 rows across SFs).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) DIV 60000000").alias("mn"),
    )
    w = Window.partitionBy("user_id").orderBy("mn")
    lag = F.lag("mn").over(w)
    flagged = ev.select(
        "user_id",
        "mn",
        F.when(
            lag.isNull() | ((F.col("mn") - lag) > _LL_GAP_S // 60), 1
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flagged.select(
        "user_id",
        "mn",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min("mn").cast("long").alias("s_mn"),
        F.max("mn").cast("long").alias("e_mn"),
    )
    per = per.localCheckpoint(eager=False)  # totals + sweep consumers
    tot = per.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.col("e_mn") - F.col("s_mn"))
        .cast("long")
        .alias("total_dur_mn"),
        (F.max("e_mn") - F.min("s_mn")).cast("long").alias("window_mn"),
    )
    deltas = (
        per.select(F.col("s_mn").alias("mn"), F.lit(1).alias("d"))
        .unionByName(
            per.select(F.col("e_mn").alias("mn"), F.lit(-1).alias("d"))
        )
        .groupBy("mn")
        .agg(F.sum("d").cast("long").alias("delta"))
    )
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    ranked = global_rank(
        deltas, [F.col("mn")], rank_col="rn",
        cumsum_col="conc", value_col="delta",
    )
    nxt = ranked.select(
        (F.col("rn") - 1).alias("rn"), F.col("mn").alias("next_mn")
    )
    # inner join drops the last sweep point — exactly the gap IS NULL row
    integ = ranked.join(nxt, "rn").agg(
        F.sum(F.col("conc") * (F.col("next_mn") - F.col("mn")))
        .cast("long")
        .alias("sweep_mn")
    )
    return (
        tot.crossJoin(F.broadcast(integ))
        .select(
            "n_sessions",
            "total_dur_mn",
            "window_mn",
            (
                F.floor(
                    F.col("n_sessions").cast("double")
                    / F.col("window_mn").cast("double")
                    * F.lit(60.0)
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("lambda_per_hour"),
            F.expr("CAST(total_dur_mn DIV n_sessions AS BIGINT)").alias(
                "w_mean_mn"
            ),
            (
                F.floor(
                    F.col("total_dur_mn").cast("double")
                    / F.col("window_mn").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("l_timeavg"),
            "sweep_mn",
            (F.col("sweep_mn") == F.col("total_dur_mn")).alias(
                "identity_exact"
            ),
        )
    )


# --------------------------------------------------------------------------
# ops_cron_schedule — cron-spec expansion over the feed window
# --------------------------------------------------------------------------

#: checked-in schedule specs: (name, minute, hour, dom, isodow) with
#: -1 = '*' — the reference DAG's schedule_interval made queryable
_CRON_SPECS = (
    ("daily_0300", 0, 3, -1, -1),
    ("hourly_15", 15, -1, -1, -1),
    ("monday_0900", 0, 9, -1, 1),
    ("month_first_0000", 0, 0, 1, -1),
)


def _cron_oracle() -> str:
    specs = ", ".join(
        f"('{n}', {mi}, {h}, {dom}, {dow})"
        for n, mi, h, dom, dow in _CRON_SPECS
    )
    return f"""
    WITH bounds AS (
        SELECT date_trunc('minute', MIN(ts)) AS t0,
               date_trunc('minute', MAX(ts)) AS t1
        FROM events),
    spine AS (
        SELECT UNNEST(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS mn
        FROM bounds),
    specs(name, mi, h, dom, dow) AS (VALUES {specs}),
    fires AS (
        SELECT s.name, p.mn
        FROM spine p JOIN specs s
          ON (s.mi = -1 OR CAST(EXTRACT(minute FROM p.mn) AS INT) = s.mi)
         AND (s.h = -1 OR CAST(EXTRACT(hour FROM p.mn) AS INT) = s.h)
         AND (s.dom = -1 OR CAST(EXTRACT(day FROM p.mn) AS INT) = s.dom)
         AND (s.dow = -1
              OR CAST(EXTRACT(isodow FROM p.mn) AS INT) = s.dow)),
    per AS (
        SELECT name,
               CAST(COUNT(*) AS BIGINT) AS n_fires,
               CAST(MIN(mn) AS TIMESTAMP) AS first_fire,
               CAST(MAX(mn) AS TIMESTAMP) AS last_fire,
               CAST((epoch_us(MAX(mn)) - epoch_us(MIN(mn)))
                    // 60000000 // NULLIF(COUNT(*) - 1, 0) AS BIGINT)
                   AS mean_gap_minutes
        FROM fires
        GROUP BY name)
    SELECT s.name,
           COALESCE(p.n_fires, 0) AS n_fires,
           p.first_fire, p.last_fire, p.mean_gap_minutes
    FROM specs s LEFT JOIN per p ON p.name = s.name
    ORDER BY s.name
    """


@query("ops_cron_schedule", oracle=_cron_oracle())
def ops_cron_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orchestration-ops tier — CRON-SPEC EXPANSION: evaluate the
    checked-in schedule specs (minute/hour/day-of-month/ISO-weekday
    with −1 as '*' — the Airflow ``schedule_interval`` grammar's
    common core) against the feed's minute-grain calendar window and
    report per spec the fire count, first/last fire, and mean gap —
    the query behind "how many runs should exist?", which
    `ops_backfill_plan` then diffs against reality (missing fires =
    the backfill list).

    Exactness: matching is integer field comparison on the minute
    spine; gaps are exact integer minute arithmetic with a NULLIF
    single-fire guard.

    100 TB: volume-independent by construction — the spine is the
    CALENDAR (43k rows/month), the spec table a literal; the only
    data touch is the two-scalar bounds aggregate.

    Reference parity: dags/pipeline_orchestration_dag.py:212 sets
    ``schedule_interval`` + catchup — this key materializes exactly
    the run set Airflow's scheduler would create for it.
    """
    ev = load_table(spark, sf_dir, "events")
    t0, t1 = collect_bounded(
        ev.agg(
            F.date_trunc("minute", F.min("ts")),
            F.date_trunc("minute", F.max("ts")),
        ),
        1,
        "event minute bounds",
    )[0]
    spine = spark.sql(
        "SELECT explode(sequence(to_timestamp('{0}'),"
        " to_timestamp('{1}'), interval 1 minute)) AS mn".format(
            t0.isoformat(sep=" "), t1.isoformat(sep=" ")
        )
    )
    specs = spark.createDataFrame(
        list(_CRON_SPECS), "name STRING, mi INT, h INT, dom INT, dow INT"
    )
    fires = spine.join(
        F.broadcast(specs),
        (
            (F.col("mi") == -1)
            | (F.minute("mn").cast("int") == F.col("mi"))
        )
        & ((F.col("h") == -1) | (F.hour("mn").cast("int") == F.col("h")))
        & (
            (F.col("dom") == -1)
            | (F.dayofmonth("mn").cast("int") == F.col("dom"))
        )
        & (
            (F.col("dow") == -1)
            | (
                (((F.dayofweek("mn") + 5) % 7) + 1).cast("int")
                == F.col("dow")
            )
        ),
    )
    per = fires.groupBy("name").agg(
        F.count("*").cast("long").alias("n_fires"),
        F.min("mn").alias("first_fire"),
        F.max("mn").alias("last_fire"),
        F.expr(
            "CAST((unix_micros(MAX(mn)) - unix_micros(MIN(mn)))"
            " DIV 60000000 DIV NULLIF(COUNT(*) - 1, 0) AS BIGINT)"
        ).alias("mean_gap_minutes"),
    )
    # a spec that never fires in the window is itself the finding:
    # keep it visible as an explicit zero row
    return (
        specs.select("name")
        .join(F.broadcast(per), "name", "left")
        .select(
            "name",
            F.coalesce("n_fires", F.lit(0)).cast("long").alias("n_fires"),
            "first_fire",
            "last_fire",
            "mean_gap_minutes",
        )
        .orderBy("name")
    )


# ---------------------------------------------------------------------------
# artifact-repo → bucket rsync (r5b wave — the last reference gap)
# ---------------------------------------------------------------------------

_SYNC_ORACLE = """
WITH m AS (
    SELECT r.r_regionkey AS k, lower(r.r_name) AS slug,
           'SELECT * FROM staging WHERE region_key = '
               || CAST(r.r_regionkey AS VARCHAR) || chr(10)
               || '-- nations: '
               || string_agg(n.n_name, ',' ORDER BY n.n_name) || chr(10)
               AS content
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_regionkey, r.r_name),
acts AS (
    SELECT 'models/region_' || slug || '.sql' AS rel_path,
           CASE WHEN k % 2 = 0 THEN 'update' ELSE 'copy' END AS action,
           md5(content) AS src_md5,
           CAST(length(content) AS BIGINT) AS n_bytes
    FROM m
    UNION ALL
    SELECT 'models/obsolete.sql', 'delete', NULL, CAST(0 AS BIGINT))
SELECT rel_path, action, src_md5, n_bytes FROM acts ORDER BY rel_path
"""


@query("ops_artifact_sync", oracle=_SYNC_ORACLE)
def ops_artifact_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-ops tier — the reference's artifact-repo → bucket
    sync (``scripts/sync_dbt_repo.sh:8-41``: ``gsutil -m rsync -r -d``
    from a git checkout to the Composer bucket) re-expressed as a
    MANIFEST-DIFF sync with rsync's exact semantics: copy files absent
    at the destination, update files whose content hash changed, DELETE
    destination files absent from the source (``-d``), skip identical
    ones — and verify afterward that the trees converged, raising on
    any residual diff (the exit-code check the shell script does).

    The fixture repo is built deterministically from the region/nation
    dims (one model file per region, content = the region filter plus
    its sorted nation list), the bucket is pre-seeded with stale copies
    of the even-keyed regions plus one obsolete file — so the full
    action table (copy/update/delete with source md5 and byte size) is
    recomputable by the oracle from the dims alone.  Both trees are
    manifested with Spark's ``binaryFile`` source (path + bytes → md5),
    the real form for a bucket listing; the action list itself is
    artifact-cardinality metadata (bounded by repo file count, never
    data), applied driver-side exactly like the pipeline archive stage.

    100 TB: manifests are embarrassingly parallel file scans; the diff
    is a full-outer join on relative path (repo-cardinality); content
    never moves through the cluster — only hashes do.
    """
    import os
    import shutil

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    work = scratch_dir("ops_artifact_sync")
    src_dir, dst_dir = f"{work}/repo", f"{work}/bucket"
    os.makedirs(f"{src_dir}/models")
    os.makedirs(f"{dst_dir}/models")

    models = (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .groupBy("r_regionkey", "r_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations")
        )
        .select(
            "r_regionkey",
            F.lower("r_name").alias("slug"),
            F.concat(
                F.lit("SELECT * FROM staging WHERE region_key = "),
                F.col("r_regionkey").cast("string"),
                F.lit("\n-- nations: "),
                F.col("nations"),
                F.lit("\n"),
            ).alias("content"),
        )
    )
    for r in collect_bounded(models, _REGIONS, "region models"):
        with open(f"{src_dir}/models/region_{r.slug}.sql", "w") as f:
            f.write(r.content)
        if r.r_regionkey % 2 == 0:  # stale bucket copy (missing line 2)
            with open(f"{dst_dir}/models/region_{r.slug}.sql", "w") as f:
                f.write(
                    f"SELECT * FROM staging WHERE region_key = "
                    f"{r.r_regionkey}\n"
                )
    with open(f"{dst_dir}/models/obsolete.sql", "w") as f:
        f.write("SELECT 1\n")  # extraneous: rsync -d must delete it

    def manifest(d: str) -> DataFrame:
        prefix_len = len(f"file:{d}/")
        return (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(d)
            .select(
                F.expr(f"substring(path, {prefix_len + 1})").alias(
                    "rel_path"
                ),
                F.md5("content").alias("md5"),
                F.col("length").cast("long").alias("n_bytes"),
            )
        )

    src_m = manifest(src_dir).withColumnsRenamed(
        {"md5": "src_md5", "n_bytes": "src_bytes"}
    )
    dst_m = manifest(dst_dir).withColumnsRenamed(
        {"md5": "dst_md5", "n_bytes": "dst_bytes"}
    )
    plan = (
        src_m.join(dst_m, "rel_path", "full_outer")
        .select(
            "rel_path",
            F.when(F.col("src_md5").isNull(), "delete")
            .when(F.col("dst_md5").isNull(), "copy")
            .when(F.col("src_md5") != F.col("dst_md5"), "update")
            .otherwise("skip")
            .alias("action"),
            "src_md5",
            F.coalesce("src_bytes", F.lit(0)).cast("long").alias("n_bytes"),
        )
        .filter(F.col("action") != "skip")
    )
    # MATERIALIZE the plan before mutating the destination — the lazy
    # manifest would otherwise re-scan the already-synced tree and
    # report everything as skip
    # one model file per region, plus the bucket's obsolete file
    acts = collect_bounded(plan, _REGIONS + 1, "sync actions")
    for a in acts:
        dst = f"{dst_dir}/{a.rel_path}"
        if a.action == "delete":
            os.remove(dst)
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f"{src_dir}/{a.rel_path}", dst)

    # post-sync verification: the trees must now be identical
    resid = (
        src_m.join(manifest(dst_dir), "rel_path", "full_outer")
        .filter(
            F.col("src_md5").isNull()
            | F.col("md5").isNull()
            | (F.col("src_md5") != F.col("md5"))
        )
        .count()
    )
    if resid:
        raise RuntimeError(
            f"ops_artifact_sync: {resid} paths still differ after sync"
        )
    return spark.createDataFrame(
        acts, "rel_path string, action string, src_md5 string, n_bytes long"
    ).orderBy("rel_path")


# ---------------------------------------------------------------------------
# slot-capped wave schedule (r6c wave)
# ---------------------------------------------------------------------------

#: executor slots available per wave — the reference's Composer
#: environment runs a small fixed worker pool; 2 keeps the fixture DAG's
#: waves non-trivial (some levels overflow a single wave)
_WAVE_SLOTS = 2


def _wave_schedule_sql(dialect_intdiv: str = "//") -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    s = _WAVE_SLOTS
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    lp(task, l) AS (
        SELECT t.task, 1 FROM tasks t
        WHERE t.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, lp.l + 1 FROM lp JOIN edges e ON e.src = lp.task),
    lvl AS (SELECT task, CAST(MAX(l) AS BIGINT) AS level
            FROM lp GROUP BY task),
    ranked AS (
        SELECT t.task, t.dur, l.level,
               ROW_NUMBER() OVER (PARTITION BY l.level
                                  ORDER BY t.dur DESC, t.task) AS rnk
        FROM tasks t JOIN lvl l ON l.task = t.task),
    waved AS (
        SELECT task, dur, level,
               CAST((rnk - 1) {dialect_intdiv} {s} + 1 AS BIGINT) AS wave
        FROM ranked),
    wdur AS (
        SELECT level, wave, MAX(dur) AS wdur
        FROM waved GROUP BY level, wave),
    wstart AS (
        SELECT level, wave, wdur,
               CAST(COALESCE(SUM(wdur) OVER (
                   ORDER BY level, wave
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS wave_start
        FROM wdur)
    SELECT w.task, w.level, w.wave, CAST(w.dur AS BIGINT) AS dur_min,
           s.wave_start,
           CAST(s.wave_start + s.wdur AS BIGINT) AS wave_end
    FROM waved w JOIN wstart s ON s.level = w.level AND s.wave = w.wave
    ORDER BY w.level, w.wave, w.task
    """


@query("ops_wave_schedule", oracle=_wave_schedule_sql())
def ops_wave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLOT-CAPPED WAVE SCHEDULE over the reference pipeline's task DAG
    (same shared task/edge literals as ops_dag_critical_path): CPM says
    what the DEADLINE is with unlimited workers; this key says what
    actually happens on the reference's SMALL FIXED WORKER POOL.
    Tasks group by topological LEVEL (longest-path depth — every edge
    crosses to a strictly deeper level, so level-synchronous waves
    respect all precedences), each level's tasks order by LPT (duration
    DESC, task ASC — the classic longest-processing-time list rule) and
    pack into waves of {s} slots; a wave runs as long as its longest
    task, and wave starts are the running sum of prior wave lengths.
    max(wave_end) is the pool-constrained MAKESPAN — ≥ the CPM critical
    path (the infinite-worker bound), ≤ the serial sum; the gap between
    the two is the capacity-planning number (how much adding a worker
    buys).

    Identical SQL text on both engines (Spark 4 recursive CTE) except
    the integer-division token — the ops_retry_budget dialect
    parameterization.  Every quantity is integer minutes.

    100 TB: orchestration metadata — dozens of rows; the level
    recursion is DAG-depth bounded, everything after is windows over
    task-cardinality relations."""
    return spark.sql(_wave_schedule_sql(dialect_intdiv="DIV"))


ops_wave_schedule.__doc__ = ops_wave_schedule.__doc__.format(s=_WAVE_SLOTS)


# ---------------------------------------------------------------------------
# Monte-Carlo schedule risk (r6i wave)
# ---------------------------------------------------------------------------

#: replicates and the ±20% uniform duration jitter, in ppm
_MC_REPS = 200
_MC_JIT_PPM = 400001  # h ∈ [0, 400000]; dur_ppm = dur·(800000 + h)


def _schedule_mc_sql(
    dialect_range: str = "SELECT UNNEST(range(0, 200)) AS r",
    dialect_hex5: str = "CAST('0x' || SUBSTR(md5({x}), 1, 5) AS BIGINT)",
    dialect_str: str = "VARCHAR",
) -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    hexe = dialect_hex5.format(
        x=f"'mc:' || t.task || ':' || CAST(r.r AS {dialect_str})"
    )
    p50rk, p90rk = _MC_REPS // 2, (_MC_REPS * 9) // 10
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    reps AS ({dialect_range}),
    jit AS (
        SELECT r.r, t.task, t.dur,
               t.dur * (800000 + ({hexe}) % {_MC_JIT_PPM}) AS durp
        FROM tasks t CROSS JOIN reps r),
    fwd(r, task, ef) AS (
        SELECT j.r, j.task, j.durp FROM jit j
        WHERE j.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT f.r, e.dst, f.ef + j.durp
        FROM fwd f JOIN edges e ON e.src = f.task
        JOIN jit j ON j.task = e.dst AND j.r = f.r),
    eft AS (SELECT r, task, MAX(ef) AS ef FROM fwd GROUP BY r, task),
    bwd(r, task, tl) AS (
        SELECT j.r, j.task, j.durp FROM jit j
        WHERE j.task NOT IN (SELECT src FROM edges)
        UNION ALL
        SELECT b.r, e.src, b.tl + j.durp
        FROM bwd b JOIN edges e ON e.dst = b.task
        JOIN jit j ON j.task = e.src AND j.r = b.r),
    tlt AS (SELECT r, task, MAX(tl) AS tl FROM bwd GROUP BY r, task),
    thr AS (
        SELECT e.r, e.task, e.ef - j.durp + t.tl AS through
        FROM eft e
        JOIN tlt t ON t.r = e.r AND t.task = e.task
        JOIN jit j ON j.r = e.r AND j.task = e.task),
    mks AS (SELECT r, MAX(through) AS mk FROM thr GROUP BY r),
    crit AS (
        SELECT t.task,
               CAST(SUM(CASE WHEN t.through = m.mk THEN 1 ELSE 0 END)
                    AS BIGINT) AS crit_n
        FROM thr t JOIN mks m ON m.r = t.r GROUP BY t.task),
    q AS (SELECT mk, ROW_NUMBER() OVER (ORDER BY mk, r) AS rk FROM mks),
    pq AS (
        SELECT (SELECT mk FROM q WHERE rk = {p50rk}) AS p50p,
               (SELECT mk FROM q WHERE rk = {p90rk}) AS p90p,
               (SELECT MAX(mk) FROM q) AS worstp)
    SELECT t.task,
           CAST(t.dur AS BIGINT) AS dur_min,
           c.crit_n,
           FLOOR(c.crit_n * 1000000.0e0 / {_MC_REPS} + 0.5e0)
               / 1000000.0e0 AS crit_rate,
           FLOOR(pq.p50p / 1000000.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
               AS p50_makespan_min,
           FLOOR(pq.p90p / 1000000.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
               AS p90_makespan_min,
           FLOOR(pq.worstp / 1000000.0e0 * 10000.0e0 + 0.5e0) / 10000.0e0
               AS worst_makespan_min
    FROM tasks t JOIN crit c ON c.task = t.task CROSS JOIN pq
    ORDER BY t.task
    """


@query("ops_schedule_monte_carlo", oracle=_schedule_mc_sql())
def ops_schedule_monte_carlo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTE-CARLO SCHEDULE RISK over the reference pipeline's task DAG,
    completing the scheduling trio (ops_dag_critical_path = the
    deterministic deadline, ops_wave_schedule = the capacity-
    constrained makespan, THIS = the risk distribution): {r} replicates
    draw each task's duration uniformly in ±20% (deterministic
    md5-derived integers — reproducible across engines, the
    privacy_randomized_response coin discipline), run CPM's
    forward+backward passes PER REPLICATE inside one tagged recursion,
    and report per task its CRITICALITY RATE (fraction of replicates
    where it sits on the critical path — the PERT insight that
    near-critical parallel branches share the risk, invisible to
    single-run CPM) plus the P50/P90/worst makespan quantiles an SLA
    conversation actually needs.

    Exactness: jittered durations are exact integer ppm-minutes;
    every path sum, max and the criticality equality test are int64;
    quantiles are rank-selected order statistics (rank {p50}/{p90} of
    {r}), not interpolated; the three reported minutes round once.

    Identical SQL text on both engines except the replicate generator
    and the hex→int cast (the ops_retry_budget dialect
    parameterization).

    100 TB: orchestration metadata × {r} replicates — the recursion
    carries (replicate, task) state, DAG-depth bounded; replicates
    shard naturally on r."""
    return spark.sql(
        _schedule_mc_sql(
            dialect_range=(
                f"SELECT explode(sequence(0, {_MC_REPS - 1})) AS r"
            ),
            dialect_hex5=(
                "CAST(CONV(SUBSTR(md5({x}), 1, 5), 16, 10) AS BIGINT)"
            ),
            dialect_str="STRING",
        )
    )


ops_schedule_monte_carlo.__doc__ = ops_schedule_monte_carlo.__doc__.format(
    r=_MC_REPS, p50=_MC_REPS // 2, p90=(_MC_REPS * 9) // 10
)


# ---------------------------------------------------------------------------
# slot sizing — the capacity-planning sweep over the wave scheduler
# ---------------------------------------------------------------------------

#: worker-pool sizes swept (the reference runs tiny fixed pools)
_SS_MAX_SLOTS = 4


def _slot_sizing_sql(
    dialect_intdiv: str = "//",
    dialect_range: str = "SELECT UNNEST(range(1, 5)) AS s",
) -> str:
    tasks_values = ", ".join(f"('{t}', {d})" for t, d in _TASKS)
    edges_values = ", ".join(f"('{s}', '{d}')" for s, d in _EDGES)
    return f"""
    WITH RECURSIVE tasks(task, dur) AS (VALUES {tasks_values}),
    edges(src, dst) AS (VALUES {edges_values}),
    slots AS ({dialect_range}),
    lp(task, l) AS (
        SELECT t.task, 1 FROM tasks t
        WHERE t.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, lp.l + 1 FROM lp JOIN edges e ON e.src = lp.task),
    lvl AS (SELECT task, CAST(MAX(l) AS BIGINT) AS level
            FROM lp GROUP BY task),
    ranked AS (
        SELECT sl.s, t.task, t.dur, l.level,
               ROW_NUMBER() OVER (PARTITION BY sl.s, l.level
                                  ORDER BY t.dur DESC, t.task) AS rnk
        FROM tasks t JOIN lvl l ON l.task = t.task CROSS JOIN slots sl),
    waved AS (
        SELECT s, level, dur,
               CAST((rnk - 1) {dialect_intdiv} s + 1 AS BIGINT) AS wave
        FROM ranked),
    wdur AS (
        SELECT s, level, wave, MAX(dur) AS wdur
        FROM waved GROUP BY s, level, wave),
    mk AS (
        SELECT s, CAST(SUM(wdur) AS BIGINT) AS makespan
        FROM wdur GROUP BY s),
    fwd(task, ef) AS (
        SELECT t.task, t.dur FROM tasks t
        WHERE t.task NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, fwd.ef + t.dur
        FROM fwd JOIN edges e ON e.src = fwd.task
        JOIN tasks t ON t.task = e.dst),
    cpm AS (SELECT CAST(MAX(ef) AS BIGINT) AS cpm_bound FROM fwd),
    ser AS (SELECT CAST(SUM(dur) AS BIGINT) AS serial_bound FROM tasks)
    SELECT CAST(mk.s AS INT) AS slots, mk.makespan,
           cpm.cpm_bound, ser.serial_bound,
           FLOOR(CAST(ser.serial_bound AS DOUBLE) / mk.makespan
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS speedup,
           FLOOR(CAST(ser.serial_bound AS DOUBLE) / (mk.s * mk.makespan)
                 * 10000.0e0 + 0.5e0) / 10000.0e0 AS efficiency
    FROM mk CROSS JOIN cpm CROSS JOIN ser
    ORDER BY slots
    """


@query("ops_slot_sizing", oracle=_slot_sizing_sql())
def ops_slot_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPACITY-PLANNING SWEEP over the wave scheduler: the LPT
    level-wave schedule (ops_wave_schedule) evaluated at every pool
    size s ∈ 1..{m} in ONE query — a slots spine crossed into the
    ranked task list, so the sweep costs one extra grouping column,
    not {m} re-plans. Per pool size: the pool-constrained MAKESPAN,
    the two analytic envelopes (CPM critical path = the
    infinite-worker floor via the forward recursion; serial sum = the
    one-worker ceiling), SPEEDUP (serial/makespan) and EFFICIENCY
    (speedup/slots — the number that says when the next worker stops
    paying). This is the sizing table an orchestration-cost review
    reads before fixing the reference's worker pool.

    Identical SQL text on both engines (Spark 4 recursive CTE) except
    the integer-division and range-spine tokens — the ops_retry_budget
    dialect parameterization. Every makespan is exact integer minutes;
    the two ratios are the only rounded divisions.

    Laws every row must satisfy (test-pinned): makespan(1) = serial
    sum; makespan nonincreasing in s; makespan(s) ≥ CPM bound for all
    s; efficiency nonincreasing in s.

    100 TB: orchestration metadata — the recursion is DAG-depth
    bounded, the sweep state is |slots|·|levels| rows."""
    return spark.sql(
        _slot_sizing_sql(
            dialect_intdiv="DIV",
            dialect_range="SELECT explode(sequence(1, 4)) AS s",
        )
    )


ops_slot_sizing.__doc__ = ops_slot_sizing.__doc__.format(m=_SS_MAX_SLOTS)
