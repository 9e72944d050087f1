"""Curation-tier queries: SCD2 merge, point-in-time lookup, QC gates
(SURVEY.md §2.10 C1/C2, §2.3 J7, §2.4 A4).

The SCD2 snapshots are derived deterministically from the customer table
so the full merge — including closes, same-key updates, arrivals and
departures — is oracle-checkable end to end. The hashed attribute is
``acct_cents`` (money as exact integer cents) rather than the raw double:
fingerprints must hash *identical strings* in both engines, and
double→string casts are not portable across engines.
"""

from __future__ import annotations

import json
import os

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import collect_bounded, load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn, sql_roundn
from gcp_de_data_pipeline_cc_spark.operators.scd2 import point_in_time, scd2_apply, scd2_init
from gcp_de_data_pipeline_cc_spark.plans.registry import query

D1 = dt.date(2024, 1, 1)
D2 = dt.date(2024, 2, 1)

# shared snapshot definitions (SQL twin below, Spark builder in _snapshots)
_SNAP_SQL = """
    s1 AS (
        SELECT c_custkey AS cust_id,
               c_name AS name,
               c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents
        FROM customer
    ),
    s2 AS (
        SELECT cust_id, name, segment,
               CASE WHEN cust_id % 5 = 0 THEN acct_cents + 10000
                    ELSE acct_cents END AS acct_cents
        FROM s1 WHERE cust_id % 17 <> 0
        UNION ALL
        SELECT cust_id + 1000000, 'NEW ' || name, segment, acct_cents
        FROM s1 WHERE cust_id % 13 = 0
    )
"""


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Day-1 and day-2 dimension snapshots, derived from customer."""
    s1 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).alias("acct_cents"),
    )
    changed = s1.filter(F.col("cust_id") % 17 != 0).select(
        "cust_id",
        "name",
        "segment",
        F.when(F.col("cust_id") % 5 == 0, F.col("acct_cents") + 10000)
        .otherwise(F.col("acct_cents"))
        .alias("acct_cents"),
    )
    arrivals = s1.filter(F.col("cust_id") % 13 == 0).select(
        (F.col("cust_id") + 1000000).alias("cust_id"),
        F.concat(F.lit("NEW "), F.col("name")).alias("name"),
        "segment",
        "acct_cents",
    )
    return s1, changed.unionByName(arrivals)


@query(
    "scd2_merge",
    oracle=f"""
    WITH {_SNAP_SQL},
    h1 AS (
        SELECT *,
               SHA256(CONCAT_WS(CHR(31),
                   COALESCE(name, CHR(1)),
                   COALESCE(segment, CHR(1)),
                   COALESCE(CAST(acct_cents AS VARCHAR), CHR(1)))) AS row_hash
        FROM s1
    ),
    h2 AS (
        SELECT *,
               SHA256(CONCAT_WS(CHR(31),
                   COALESCE(name, CHR(1)),
                   COALESCE(segment, CHR(1)),
                   COALESCE(CAST(acct_cents AS VARCHAR), CHR(1)))) AS row_hash
        FROM s2
    )
    SELECT c.cust_id, c.name, c.segment, c.acct_cents, c.row_hash,
           DATE '2024-01-01' AS effective_from,
           CASE WHEN s.cust_id IS NULL OR s.row_hash <> c.row_hash
                THEN DATE '2024-02-01' ELSE DATE '9999-12-31' END AS effective_to,
           NOT (s.cust_id IS NULL OR s.row_hash <> c.row_hash) AS is_current
    FROM h1 c LEFT JOIN h2 s USING (cust_id)
    UNION ALL
    SELECT s.cust_id, s.name, s.segment, s.acct_cents, s.row_hash,
           DATE '2024-02-01', DATE '9999-12-31', TRUE
    FROM h2 s LEFT JOIN h1 c USING (cust_id)
    WHERE c.cust_id IS NULL OR c.row_hash <> s.row_hash
    """,
)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — full SCD2 load cycle: init from day-1 snapshot, apply day-2
    snapshot carrying updates (key%5), departures (key%17, closed) and
    arrivals (key%13 clones). The dbt-SCD2 semantics the reference
    delegates to its external curation model (readme:10)."""
    s1, s2 = _snapshots(spark, sf_dir)
    dim = scd2_init(s1, ["cust_id"], ["name", "segment", "acct_cents"], D1)
    return scd2_apply(
        dim, s2, ["cust_id"], ["name", "segment", "acct_cents"], D2,
        close_missing=True,
    )


@query(
    "join_asof_scd2",
    oracle="""
    WITH versions AS (
        SELECT o_custkey,
               o_orderkey AS version_key,
               o_orderdate AS eff_from,
               LEAD(o_orderdate, 1, TIMESTAMP '9999-12-31 00:00:00') OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS eff_to
        FROM orders
    ),
    probes AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_custkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT v.version_key, COUNT(*) AS n_probes
    FROM probes p
    JOIN versions v
      ON p.o_custkey = v.o_custkey
     AND p.l_shipdate >= v.eff_from
     AND p.l_shipdate < v.eff_to
    GROUP BY v.version_key
    """,
)
def join_asof_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — point-in-time (as-of) lookup against versioned intervals.

    Versions are derived per customer from consecutive order dates
    (effective_to = next version's effective_from — op W2); each lineitem
    ship date then resolves to exactly one version. Executes as a
    sort-merge join on the customer key with the range predicate applied
    in the merge — the standard Spark plan for equality+range, no
    cartesian blowup at scale.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("version_key"),
        F.col("o_orderdate").alias("effective_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("9999-12-31 00:00:00").cast("timestamp"),
        ).alias("effective_to"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    probes = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "o_custkey"
    )
    matched = point_in_time(versions, probes, ["o_custkey"], "l_shipdate")
    return (
        matched.filter(F.col("version_key").isNotNull())
        .groupBy("version_key")
        .agg(F.count("*").alias("n_probes"))
    )


@query(
    "qc_gate_suite",
    oracle="""
    SELECT 'lineitem_non_empty' AS gate, COUNT(*) > 0 AS passed,
           COUNT(*) AS observed
    FROM lineitem
    UNION ALL
    SELECT 'orders_unique_key', COUNT(*) = COUNT(DISTINCT o_orderkey),
           COUNT(*) - COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem_ref_integrity', COUNT(*) = 0, COUNT(*)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders_status_accepted', COUNT(*) = 0, COUNT(*)
    FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
    """,
)
def qc_gate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — the reference's inter-stage QC gates as one lazy report
    (dags/pipeline_orchestration_dag.py:149-167), extended with the
    uniqueness / referential / accepted-values checks the external dbt
    layer would carry."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    g1 = li.agg(F.count("*").alias("n")).select(
        F.lit("lineitem_non_empty").alias("gate"),
        (F.col("n") > 0).alias("passed"),
        F.col("n").alias("observed"),
    )
    g2 = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dups")
    ).select(
        F.lit("orders_unique_key").alias("gate"),
        (F.col("dups") == 0).alias("passed"),
        F.col("dups").alias("observed"),
    )
    orphans = li.select(F.col("l_orderkey").alias("k")).join(
        o.select(F.col("o_orderkey").alias("k")), "k", "left_anti"
    )
    g3 = orphans.agg(F.count("*").alias("n")).select(
        F.lit("lineitem_ref_integrity").alias("gate"),
        (F.col("n") == 0).alias("passed"),
        F.col("n").alias("observed"),
    )
    g4 = o.filter(~F.col("o_orderstatus").isin("F", "O", "P")).agg(
        F.count("*").alias("n")
    ).select(
        F.lit("orders_status_accepted").alias("gate"),
        (F.col("n") == 0).alias("passed"),
        F.col("n").alias("observed"),
    )
    return g1.unionByName(g2).unionByName(g3).unionByName(g4)


@query("agg_approx_distinct", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — HLL++ approximate cardinality (rows-only: ±rsd vs exact, so
    no value-hash oracle; tests assert the error bound instead).

    Scale: approx_count_distinct shuffles fixed-size sketches instead of
    the key universe — the only viable distinct-count at 100 TB. The
    exact reference count is computed in a SEPARATE aggregate: mixing
    countDistinct with a sketch in one agg forces an Expand plan that
    disables partial aggregation (measured 4-5× slower).
    """
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"))
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    return approx.crossJoin(exact)


@query(
    "qc_foreign_keys",
    oracle="""
    SELECT 'orders->customer' AS fk,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'customer->nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def qc_foreign_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — referential-integrity QC gate: orphan counts for
    every FK edge of the star schema in one result (ref: the reference's
    post-load dbt tests, dags/pipeline_orchestration_dag.py:212 curation
    tier). Each check is a LEFT ANTI join — dimension edges broadcast the key
    side (scan-only gate); the fact->fact edge (lineitem->orders) is
    left to AQE, which picks a shuffled join when both sides are big. Zero orphans is the *passing* state; the gate's value is
    that it fails loudly when ingestion breaks."""

    def orphans(
        fact: DataFrame,
        fk_col: str,
        dim: DataFrame,
        pk_col: str,
        label: str,
        broadcast_dim: bool = True,
    ):
        # broadcast_dim=False for fact→fact edges (lineitem→orders):
        # forcing a broadcast of a fact table would OOM at scale — let
        # Catalyst/AQE pick SMJ there.
        keys = F.broadcast(dim) if broadcast_dim else dim
        n_rows = fact.select(F.count("*").alias("n_rows"))
        n_orph = (
            fact.join(keys, fact[fk_col] == dim[pk_col], "left_anti")
            .select(F.count("*").alias("n_orphans"))
        )
        return (
            n_rows.crossJoin(n_orph)
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        orphans(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionByName(
            orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders",
                    broadcast_dim=False)
        )
        .unionByName(orphans(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .unionByName(orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
    )


@query(
    "scd3_merge",
    oracle=f"""
    WITH {_SNAP_SQL},
    o AS (SELECT *, 1 AS in_old FROM s1),
    n AS (SELECT *, 1 AS in_new FROM s2)
    SELECT cust_id,
           n.name AS name,
           n.segment AS segment,
           n.acct_cents AS acct_cents,
           CASE WHEN in_old = 1 AND in_new = 1
                     AND o.acct_cents <> n.acct_cents
                THEN o.acct_cents END AS prev_acct_cents,
           CASE WHEN in_old IS NULL THEN 'insert'
                WHEN in_new IS NULL THEN 'delete'
                WHEN o.acct_cents <> n.acct_cents THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM o FULL JOIN n USING (cust_id)
    """,
)
def scd3_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-extension — SCD Type 3 merge: one row per key carrying the
    current attribute plus a previous-value column populated only on
    change, with the change class (insert/update/delete/unchanged).
    The limited-history alternative to SCD2 for dimensions where only
    the immediately-prior value matters — same day-1/day-2 snapshot
    fixtures as scd2_merge, so both strategies are comparable side by
    side. One full-outer shuffle on the key (key-coalesced by both
    engines under USING/`on=`); at 100 TB both snapshots hash-partition
    on cust_id and AQE handles the merge."""
    s1, s2 = _snapshots(spark, sf_dir)
    o = s1.withColumn("in_old", F.lit(1))
    n = s2.withColumn("in_new", F.lit(1))
    o = o.select("cust_id", F.col("name").alias("name_o"),
                 F.col("segment").alias("segment_o"),
                 F.col("acct_cents").alias("acct_o"), "in_old")
    n = n.select("cust_id", "name", "segment",
                 F.col("acct_cents").alias("acct_cents"), "in_new")
    j = o.join(n, on="cust_id", how="full")
    changed = (
        (F.col("in_old") == 1)
        & (F.col("in_new") == 1)
        & (F.col("acct_o") != F.col("acct_cents"))
    )
    change_type = (
        F.when(F.col("in_old").isNull(), "insert")
        .when(F.col("in_new").isNull(), "delete")
        .when(F.col("acct_o") != F.col("acct_cents"), "update")
        .otherwise("unchanged")
    )
    return j.select(
        "cust_id",
        "name",
        "segment",
        "acct_cents",
        F.when(changed, F.col("acct_o")).alias("prev_acct_cents"),
        change_type.alias("change_type"),
    )


@query(
    "cdc_apply",
    oracle="""
    WITH log AS (
        SELECT o_orderkey AS k, 1 AS seq, 'I' AS op, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_totalprice * 1.1
        FROM orders
        WHERE SUBSTR(md5('u:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '55'
        UNION ALL
        SELECT o_orderkey, 3, 'D', NULL
        FROM orders
        WHERE SUBSTR(md5('d:' || CAST(o_orderkey AS VARCHAR)), 1, 2) >= 'aa'
    ),
    ranked AS (
        SELECT k, seq, op, price,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n_ops
        FROM log
    )
    SELECT k AS o_orderkey, op AS last_op, n_ops,
           FLOOR(price * 100.0 + 0.5) / 100.0 AS price
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-extension — change-data-capture log application: an ordered
    insert/update/delete feed (Debezium/Datastream shape — the CDC path
    implied by the reference's BigQuery staging tier,
    `dags/pipeline_orchestration_dag.py:152-171`) collapses to current
    table state by latest-sequence-wins per key, with tombstones dropped.
    The log here is synthesized deterministically from orders (every key
    an insert, ~1/3 hash-selected updates at seq 2, ~1/3 tombstones at
    seq 3) so the collapse is oracle-checkable end to end.

    Scale: one window shuffle on the change key — state never lives on
    the driver; n_ops rides the same partition. At 100 TB the feed would
    be partitioned by arrival date and the collapse runs per partition
    window, identical plan."""
    o = load_table(spark, sf_dir, "orders")

    def tag(prefix: str):
        return F.substring(
            F.md5(
                F.concat(
                    F.lit(prefix), F.col("o_orderkey").cast("string")
                ).cast("binary")
            ),
            1,
            2,
        )

    inserts = o.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    updates = (
        o.filter(tag("u:") < "55")
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") * 1.1).alias("price"),
        )
    )
    deletes = (
        o.filter(tag("d:") >= "aa")
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("price"),
        )
    )
    log = inserts.unionByName(updates).unionByName(deletes)
    from pyspark.sql import Window

    w = Window.partitionBy("k")
    ranked = log.select(
        "k",
        "op",
        "price",
        F.row_number().over(w.orderBy(F.desc("seq"))).alias("rn"),
        F.count("*").over(w).alias("n_ops"),
    )
    from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn

    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("op").alias("last_op"),
            "n_ops",
            roundn(F.col("price"), 2).alias("price"),
        )
    )


@query(
    "qc_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
               AS n_nonpos_price,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
               AS n_null_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           FLOOR(SUM(o_totalprice) * 100.0 + 0.5) / 100.0 AS sum_price
    FROM orders
    """,
)
def qc_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — QC counters via the Observation API: the metrics
    ride the SAME job that materializes the data (AccumulatorV2 under
    the hood), so the quality gate costs ZERO extra scans — the
    structural upgrade over `qc_gate_suite`, whose checks are separate
    aggregate jobs (and over the reference's BigQuery `COUNT(*)` QC
    re-queries, `dags/pipeline_orchestration_dag.py:183-199`). At 100 TB
    a second pass over the fact table just to count nulls is the
    difference between one cluster-hour and two.

    The observed pass here feeds the noop sink (Spark's benchmark sink —
    full execution, nothing written); in production it IS the parquet/
    BigQuery write. count_distinct is the one metric observe() can't
    carry (distributed distinct needs a shuffle, accumulators are
    merge-only) — it rides a tiny separate agg joined in, documenting
    the boundary."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    from pyspark.sql import Observation

    obs = Observation()
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") <= 0).alias("n_nonpos_price"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
        F.sum("o_totalprice").alias("sum_price_raw"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn

    n_statuses = o.agg(
        F.count_distinct("o_orderstatus").cast("bigint").alias("n_statuses")
    )
    metrics = spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_nonpos_price"],
                m["n_null_cust"],
                float(m["sum_price_raw"]),
            )
        ],
        "n_rows bigint, n_nonpos_price bigint, n_null_cust bigint, sum_price_raw double",
    )
    return metrics.crossJoin(F.broadcast(n_statuses)).select(
        "n_rows",
        "n_nonpos_price",
        "n_null_cust",
        "n_statuses",
        roundn(F.col("sum_price_raw"), 2).alias("sum_price"),
    )


@query(
    "scd4_merge",
    oracle=f"""
    WITH {_SNAP_SQL}
    SELECT 'current' AS tier, cust_id, name, segment, acct_cents
    FROM s2
    UNION ALL
    SELECT 'history', o.cust_id, o.name, o.segment, o.acct_cents
    FROM s1 o LEFT JOIN s2 n USING (cust_id)
    WHERE n.cust_id IS NULL OR o.acct_cents <> n.acct_cents
    """,
)
def scd4_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-extension — SCD Type 4: the current tier holds only each key's
    latest version while displaced versions (updated or deleted keys)
    append to a separate history tier — the warehouse layout when the
    serving path must stay narrow/fast and audit queries go to a
    colder table. Completes the SCD family beside Type 1 (overwrite,
    scd1_upsert), Type 2 (versioned rows, scd2_merge), and Type 3
    (prior-value column, scd3_merge). Output is both tiers tagged with a
    ``tier`` column so one result carries the whole post-load state.

    100 TB: one left join on the key (history detection) + the new
    snapshot passed through — same single-shuffle shape as scd3; the
    history tier is append-only, so at scale each load writes only its
    displaced rows, never rewriting history.
    """
    s1, s2 = _snapshots(spark, sf_dir)
    current = s2.select(
        F.lit("current").alias("tier"), "cust_id", "name", "segment", "acct_cents"
    )
    n = s2.select(
        F.col("cust_id").alias("n_cust_id"),
        F.col("acct_cents").alias("n_acct_cents"),
    )
    displaced = (
        s1.join(n, s1.cust_id == n.n_cust_id, "left")
        .filter(
            F.col("n_cust_id").isNull()
            | (F.col("acct_cents") != F.col("n_acct_cents"))
        )
        .select(
            F.lit("history").alias("tier"),
            "cust_id",
            "name",
            "segment",
            "acct_cents",
        )
    )
    return current.unionByName(displaced)


@query(
    "table_diff",
    oracle=f"""
    WITH {_SNAP_SQL},
    o AS (SELECT *, 1 AS in_old FROM s1),
    n AS (SELECT *, 1 AS in_new FROM s2)
    SELECT cust_id,
           CASE WHEN in_old IS NULL THEN 'added'
                WHEN in_new IS NULL THEN 'removed'
                WHEN o.name <> n.name OR o.segment <> n.segment
                     OR o.acct_cents <> n.acct_cents THEN 'changed'
                ELSE 'identical' END AS diff_class,
           COALESCE(in_old = 1 AND in_new = 1 AND o.name <> n.name, FALSE)
               AS name_changed,
           COALESCE(in_old = 1 AND in_new = 1 AND o.segment <> n.segment,
                    FALSE) AS segment_changed,
           COALESCE(in_old = 1 AND in_new = 1
                    AND o.acct_cents <> n.acct_cents, FALSE)
               AS acct_changed
    FROM o FULL JOIN n USING (cust_id)
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — run-over-run table diff with per-column change
    classification: every key labeled added / removed / changed /
    identical plus one boolean per tracked column — the data-diff report
    a regression QC gate renders when a pipeline change ships (set_except
    tells you THAT rows differ; this tells you WHERE). The per-column
    flags are exactly the change-detection predicate SCD2 hashes into
    one fingerprint (fn_hash) — kept separate here because the consumer
    is a human diff report.

    100 TB: one full-outer join on the key, flags are codegen
    projections. For very wide tables the flag list generalizes to a
    struct-compare per column group; the join shape is unchanged.
    """
    s1, s2 = _snapshots(spark, sf_dir)
    o = s1.select(
        F.col("cust_id"),
        F.col("name").alias("o_name"),
        F.col("segment").alias("o_segment"),
        F.col("acct_cents").alias("o_acct"),
        F.lit(1).alias("in_old"),
    )
    n = s2.select(
        F.col("cust_id"),
        F.col("name").alias("n_name"),
        F.col("segment").alias("n_segment"),
        F.col("acct_cents").alias("n_acct"),
        F.lit(1).alias("in_new"),
    )
    j = o.join(n, "cust_id", "full")
    both = F.col("in_old").isNotNull() & F.col("in_new").isNotNull()
    name_chg = both & (F.col("o_name") != F.col("n_name"))
    seg_chg = both & (F.col("o_segment") != F.col("n_segment"))
    acct_chg = both & (F.col("o_acct") != F.col("n_acct"))
    return j.select(
        "cust_id",
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .when(name_chg | seg_chg | acct_chg, "changed")
        .otherwise("identical")
        .alias("diff_class"),
        F.coalesce(name_chg, F.lit(False)).alias("name_changed"),
        F.coalesce(seg_chg, F.lit(False)).alias("segment_changed"),
        F.coalesce(acct_chg, F.lit(False)).alias("acct_changed"),
    )


@query(
    "qc_volume_drift",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    with_prev AS (
        SELECT event_type, day, n_events,
               LAG(n_events) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev_n
        FROM daily)
    SELECT event_type, day, n_events,
           prev_n,
           {sql_roundn("CASE WHEN prev_n IS NOT NULL AND prev_n > 0 THEN "
                       "(n_events - prev_n) * 1.0e0 / prev_n END", 4)}
               AS pct_change,
           COALESCE(ABS((n_events - prev_n) * 1.0e0 / prev_n) > 0.5, FALSE)
               AS drift_flag
    FROM with_prev
    """,
)
def qc_volume_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — day-over-day volume-drift gate: per (type, day)
    event counts with the relative change vs the prior day and a flag on
    swings beyond ±50%. The pipeline-health check that catches silent
    upstream breakage (a dead producer, a double-delivery) which
    row-level QC gates can't see — volume is a property of the FEED, not
    of any row. Generalizes the reference's COUNT(*)>0 gate
    (dags/pipeline_orchestration_dag.py:153-156) from "non-empty" to
    "within expected envelope".

    100 TB: counts collapse the feed before the lag window; the window
    runs over |types|×|days| aggregated rows. In production the envelope
    comes from a seasonal baseline (same weekday trailing median —
    win_median_smooth's shape) rather than a fixed ±50%.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev_n = F.lag("n_events").over(w)
    pct = F.when(
        prev_n.isNotNull() & (prev_n > 0),
        (F.col("n_events") - prev_n) * F.lit(1.0) / prev_n,
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        prev_n.alias("prev_n"),
        roundn(pct, 4).alias("pct_change"),
        F.coalesce(F.abs(pct) > 0.5, F.lit(False)).alias("drift_flag"),
    )


#: declared contract for the orders staging table — deliberately includes
#: one type mismatch (o_totalprice as decimal) and one missing column
#: (o_comment) so the gate's failure rows are exercised
_ORDERS_CONTRACT = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal(12,2)"),
    ("o_orderdate", "timestamp_ntz"),
    ("o_orderpriority", "string"),
    ("o_comment", "string"),
)


@query(
    "qc_schema_contract",
    oracle="""
    SELECT * FROM (VALUES
        ('o_orderkey',     'bigint',        'bigint',        TRUE),
        ('o_custkey',      'bigint',        'bigint',        TRUE),
        ('o_orderstatus',  'string',        'string',        TRUE),
        ('o_totalprice',   'decimal(12,2)', 'double',        FALSE),
        ('o_orderdate',    'timestamp_ntz', 'timestamp_ntz', TRUE),
        ('o_orderpriority','string',        'string',        TRUE),
        ('o_comment',      'string',        'MISSING',       FALSE)
    ) t(column_name, expected_type, actual_type, type_ok)
    """,
)
def qc_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — schema data-contract gate: the staged table's
    ACTUAL column types audited against the declared contract, one
    verdict row per contracted column (missing columns surface as
    ``MISSING``). This is the inter-team API check that runs BEFORE any
    row-level gate — a producer silently widening a decimal to double or
    dropping a column breaks consumers in ways row QC never sees.
    The fixture contract deliberately carries one type drift and one
    missing column so both failure modes are exercised; the oracle pins
    the full verdict table.

    NOTE (env dependence): the oracle's pinned ``actual_type`` values
    encode how THIS Spark build reads the fixture parquet ('double' for
    o_totalprice, 'timestamp_ntz' for o_orderdate under the
    nanos-as-NTZ reader default). A reader-behavior change (like the
    int96→NTZ shift catalog.py adapts to) flips the pinned verdicts,
    not the gate logic — if this oracle ever mismatches, re-pin the
    VALUES rows from ``load_table(...).dtypes`` before suspecting the
    gate.

    100 TB: pure metadata — the verdict derives from the parquet footer
    schema at plan time; zero data is read regardless of table size
    (contrast every row-level gate in qc_gate_suite).
    """
    actual = dict(load_table(spark, sf_dir, "orders").dtypes)
    rows = [
        (
            col,
            want,
            actual.get(col, "MISSING"),
            actual.get(col, "MISSING") == want,
        )
        for col, want in _ORDERS_CONTRACT
    ]
    return spark.createDataFrame(
        rows,
        "column_name string, expected_type string, actual_type string,"
        " type_ok boolean",
    )


@query(
    "qc_accepted_values",
    oracle="""
    WITH checks AS (
        SELECT 'orders.o_orderstatus' AS test, o_orderstatus AS v,
               o_orderstatus IN ('O', 'F', 'P') AS ok
        FROM orders
        UNION ALL
        SELECT 'lineitem.l_returnflag', l_returnflag,
               l_returnflag IN ('A', 'N', 'R')
        FROM lineitem
        UNION ALL
        SELECT 'events.event_type', event_type,
               event_type IN ('click', 'view', 'purchase', 'signup',
                              'error')
        FROM events)
    SELECT test,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
               AS n_violations,
           CAST(COUNT(DISTINCT CASE WHEN NOT ok THEN v END) AS BIGINT)
               AS n_bad_values,
           (SUM(CASE WHEN ok THEN 0 ELSE 1 END) = 0) AS passed
    FROM checks
    GROUP BY test
    """,
)
def qc_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — the dbt ``accepted_values`` test, the single most
    common declarative data test: each governed categorical column is
    checked against its contract's allowlist, reporting violation and
    distinct-bad-value counts per test. The reference hands curated
    tables to a dbt layer (scripts/trigger_dataflow.sh:31-43); this is
    that layer's core test executed inside the engine, where it can
    gate the load instead of paging after it.

    100 TB: each check is a scan-side codegen IN-list over ONE column
    (pruned scan), partially aggregated to a per-test row before the
    union of constant-size results — three cheap scans, no shuffle of
    row data. New contract columns are one more SELECT in the stack.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def check(df: DataFrame, test: str, col: str, allowed: list[str]):
        ok = F.col(col).isin(*allowed)
        return df.select(
            F.lit(test).alias("test"),
            F.col(col).alias("v"),
            ok.alias("ok"),
        )

    checks = (
        check(orders, "orders.o_orderstatus", "o_orderstatus",
              ["O", "F", "P"])
        .unionByName(
            check(li, "lineitem.l_returnflag", "l_returnflag",
                  ["A", "N", "R"])
        )
        .unionByName(
            check(ev, "events.event_type", "event_type",
                  ["click", "view", "purchase", "signup", "error"])
        )
    )
    bad = F.when(F.col("ok"), 0).otherwise(1)
    return checks.groupBy("test").agg(
        F.count("*").alias("n_rows"),
        F.sum(bad).alias("n_violations"),
        F.countDistinct(
            F.when(~F.col("ok"), F.col("v"))
        ).alias("n_bad_values"),
        (F.sum(bad) == 0).alias("passed"),
    )


@query(
    "qc_uniqueness",
    oracle="""
    WITH u AS (
        SELECT 'orders.o_orderkey' AS test,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL
        SELECT 'events.event_id', COUNT(*), COUNT(DISTINCT event_id)
        FROM events
        UNION ALL
        SELECT 'lineitem.(l_orderkey,l_linenumber)', COUNT(*),
               COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
        FROM lineitem)
    SELECT test, n_rows, n_distinct,
           CAST(n_rows - n_distinct AS BIGINT) AS n_duplicate_rows,
           (n_rows = n_distinct) AS passed
    FROM u
    """,
)
def qc_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — the dbt ``unique`` test on declared keys: row
    count vs distinct key count per contract key, including a composite
    key packed into one integer (l_linenumber < 100 by TPC-H spec, so
    orderkey*100+linenumber is collision-free — documented because a
    careless pack IS how uniqueness tests silently lie). A key that
    fails here breaks every downstream MERGE/SCD assumption, which is
    why it gates before scd/cdc run, not after.

    Standing catch: the synthetic fixture does NOT honor TPC-H's
    composite-key contract (1161 duplicated (orderkey, linenumber)
    pairs at sf0.001, verified key-by-key, not a pack artifact) — the
    registered query reports that test failed=true, and the law test
    pins it as a real finding.

    100 TB: per-test COUNT DISTINCT over the key column only (pruned
    scan, partial aggregation; swap to approx_count_distinct for a
    fast-fail tier at extreme cardinalities — agg_approx_distinct shows
    the ±2% envelope). Results are constant-size.
    """
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")

    def u(df: DataFrame, test: str, key: F.Column):
        return df.agg(
            F.lit(test).alias("test"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
        )

    rows = (
        u(orders, "orders.o_orderkey", F.col("o_orderkey"))
        .unionByName(u(ev, "events.event_id", F.col("event_id")))
        .unionByName(
            u(
                li,
                "lineitem.(l_orderkey,l_linenumber)",
                F.col("l_orderkey") * 100 + F.col("l_linenumber"),
            )
        )
    )
    return rows.select(
        "test",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_duplicate_rows"),
        (F.col("n_rows") == F.col("n_distinct")).alias("passed"),
    )


#: freshness thresholds (hours) — warn past the first, error past the
#: second; the anchor is the feed-wide max timestamp so the audit is
#: deterministic over a static fixture (a live run anchors to now())
_FRESH_WARN_H = 12
_FRESH_ERROR_H = 48


@query(
    "qc_freshness",
    oracle=f"""
    WITH anchor AS (SELECT MAX(ts) AS now_ts FROM events),
    per AS (
        SELECT event_type,
               MAX(ts) AS latest_ts,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1)
    SELECT event_type, latest_ts, n_rows,
           CAST(DATE_DIFF('second', latest_ts,
                          (SELECT now_ts FROM anchor)) AS BIGINT)
               AS lag_seconds,
           CASE WHEN DATE_DIFF('second', latest_ts,
                               (SELECT now_ts FROM anchor))
                     > {_FRESH_ERROR_H} * 3600 THEN 'error'
                WHEN DATE_DIFF('second', latest_ts,
                               (SELECT now_ts FROM anchor))
                     > {_FRESH_WARN_H} * 3600 THEN 'warn'
                ELSE 'ok' END AS status
    FROM per
    """,
)
def qc_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — the dbt ``source freshness`` check: per feed
    slice, the lag between its newest record and the warehouse anchor
    (the feed-wide max timestamp — a live run would anchor to now(),
    but a deterministic audit over a static fixture must not read the
    wall clock), banded into ok/warn/error. The reference's file
    sensor (dags/pipeline_orchestration_dag.py:79-95) asks "did a file
    arrive?"; this asks the stronger question "is every slice of the
    feed still moving?" — a stuck upstream producer shows here while
    files keep landing.

    100 TB: a per-slice MAX/COUNT rollup, map-side combined; the
    anchor is a one-row broadcast. No row data shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now_ts"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count("*").alias("n_rows")
    )
    lag = (
        F.unix_timestamp("now_ts") - F.unix_timestamp("latest_ts")
    ).cast("long")
    return per.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "latest_ts",
        "n_rows",
        lag.alias("lag_seconds"),
        F.when(lag > _FRESH_ERROR_H * 3600, "error")
        .when(lag > _FRESH_WARN_H * 3600, "warn")
        .otherwise("ok")
        .alias("status"),
    )


@query(
    "cdc_to_history",
    oracle=f"""
    WITH log AS (
        SELECT o_orderkey AS k, 1 AS seq, 'I' AS op, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_totalprice * 1.1
        FROM orders
        WHERE SUBSTR(md5('u:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '55'
        UNION ALL
        SELECT o_orderkey, 3, 'D', NULL
        FROM orders
        WHERE SUBSTR(md5('d:' || CAST(o_orderkey AS VARCHAR)), 1, 2) >= 'aa'
    ),
    hist AS (
        SELECT k, seq, op, price,
               LEAD(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to_seq,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log)
    SELECT k AS o_orderkey,
           CAST(seq AS BIGINT) AS valid_from_seq,
           CAST(valid_to_seq AS BIGINT) AS valid_to_seq,
           op,
           {sql_roundn("price", 2)} AS price,
           (rn = 1 AND op <> 'D') AS is_current
    FROM hist
    """,
)
def cdc_to_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-extension — CDC log → FULL SCD2-style history: where cdc_apply
    collapses the ordered insert/update/delete feed to current state,
    this materializes the version TABLE — every change becomes an
    interval row [valid_from_seq, valid_to_seq) via LEAD over the
    per-key change sequence, deletes land as closed tombstones, and
    is_current marks the open head (absent for deleted keys). The
    history-rebuild every lakehouse needs when an SCD2 table must be
    reconstructed from the raw CDC stream (bad deploy, late schema
    fix) instead of incrementally merged.

    100 TB: ONE window shuffle on the change key — interval assembly
    is LEAD + row_number sharing the same partitioning; no joins, no
    second pass over the log. Same synthesized feed as cdc_apply so
    the two views of the stream stay comparable; at production scale
    seq is the (commit_ts, lsn) pair and the window order carries both.
    """
    orders = load_table(spark, sf_dir, "orders")

    def tagged(tag: str) -> F.Column:
        return F.substring(
            F.md5(F.concat(F.lit(tag + ":"), F.col("o_orderkey").cast("string"))),
            1,
            2,
        )

    ins = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    upd = orders.filter(tagged("u") < "55").select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("price"),
    )
    dels = orders.filter(tagged("d") >= "aa").select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    w = Window.partitionBy("k").orderBy("seq")
    wd = Window.partitionBy("k").orderBy(F.desc("seq"))
    hist = log.select(
        "k",
        "seq",
        "op",
        "price",
        F.lead("seq").over(w).alias("valid_to_seq"),
        F.row_number().over(wd).alias("rn"),
    )
    return hist.select(
        F.col("k").alias("o_orderkey"),
        F.col("seq").cast("long").alias("valid_from_seq"),
        F.col("valid_to_seq").cast("long").alias("valid_to_seq"),
        "op",
        roundn(F.col("price"), 2).alias("price"),
        ((F.col("rn") == 1) & (F.col("op") != "D")).alias("is_current"),
    )


@query(
    "qc_order_total_integrity",
    oracle=f"""
    WITH line AS (
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1.0e0 - l_discount)
                              * (1.0e0 + l_tax) * 100.0e0 + 0.5e0)
                        AS BIGINT)) AS recomputed_cents
        FROM lineitem GROUP BY 1),
    cmp AS (
        SELECT o.o_orderkey,
               CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS stated_cents,
               line.recomputed_cents,
               ABS(CAST(FLOOR(o.o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   - line.recomputed_cents) AS abs_diff
        FROM orders o JOIN line ON o.o_orderkey = line.l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN abs_diff <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_consistent,
           {sql_roundn(
               "SUM(CASE WHEN abs_diff <= 1 THEN 1 ELSE 0 END)"
               " * 1.0e0 / COUNT(*)", 6)} AS consistency_rate,
           {sql_roundn("quantile_cont(abs_diff, 0.5) / 100.0e0", 2)}
               AS p50_abs_diff,
           CAST(MAX(abs_diff) AS BIGINT) AS max_abs_diff_cents
    FROM cmp
    """,
)
def qc_order_total_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — INTRA-schema reconciliation: does the order
    header's stated total equal the recomputation from its own line
    items (extended price × (1−discount) × (1+tax), cents-rounded per
    line)? The accounting identity every order schema promises and the
    audit that catches rounding-policy drift, partial loads, and
    currency bugs between the header and detail feeds.

    Standing catch: the synthetic fixture does NOT maintain the
    identity (header totals and line prices are generated
    independently — consistency_rate ≈ 0, pinned by the law test), so
    like qc_uniqueness this gate documents a REAL contract violation
    in the data rather than vacuously passing.

    100 TB: the line recomputation is a map-side-combined orderkey
    rollup; the header join shuffles on the same key (bucketable);
    everything after is one summary row. Per-line cents rounding uses
    the shared floor form so both engines agree to the cent.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    line = li.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("recomputed_cents")
    )
    stated = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    cmp = orders.join(
        line, orders.o_orderkey == line.l_orderkey
    ).select(
        (stated - F.col("recomputed_cents")).alias("diff")
    ).select(F.abs(F.col("diff")).alias("abs_diff"))
    ok = F.when(F.col("abs_diff") <= 1, 1).otherwise(0)
    return cmp.agg(
        F.count("*").alias("n_checked"),
        F.sum(ok).alias("n_consistent"),
        roundn(F.sum(ok) * F.lit(1.0) / F.count("*"), 6).alias(
            "consistency_rate"
        ),
        roundn(
            F.percentile("abs_diff", F.lit(0.5)) / F.lit(100.0), 2
        ).alias("p50_abs_diff"),
        F.max("abs_diff").alias("max_abs_diff_cents"),
    )


# ---------------------------------------------------------------------------
# distribution drift gate (r3k wave)
# ---------------------------------------------------------------------------

@query(
    "qc_histogram_drift",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               LEAST(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) // 5000,
                     9) AS bucket
        FROM events),
    split AS (
        SELECT bucket,
               day < MIN(day) OVER () + INTERVAL 15 DAY AS is_first
        FROM d),
    byb AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first,
               CAST(SUM(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_second
        FROM split GROUP BY bucket),
    wtot AS (
        SELECT bucket, n_first, n_second,
               SUM(n_first) OVER () AS nf,
               SUM(n_second) OVER () AS ns
        FROM byb),
    tot AS (
        SELECT bucket, n_first, n_second, nf, ns,
               SUM(ABS(n_first * ns - n_second * nf)) OVER () AS tv_scaled
        FROM wtot)
    SELECT CAST(bucket AS BIGINT) AS bucket, n_first, n_second,
           {sql_roundn("n_first * 1.0e0 / nf", 6)} AS share_first,
           {sql_roundn("n_second * 1.0e0 / ns", 6)} AS share_second,
           {sql_roundn("tv_scaled * 1.0e0 / (2.0e0 * nf * ns)", 6)}
               AS tv_distance,
           10 * tv_scaled > 2 * nf * ns AS is_drifted
    FROM tot ORDER BY bucket
    """,
)
def qc_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — DISTRIBUTION drift gate: the value histogram
    (10 fixed $50 buckets) of the feed's first 15 days vs the rest,
    scored by total-variation distance — the shape-change monitor
    beside qc_volume_drift's row-count envelope and ts_seasonal_
    baseline's level gate. TV instead of the usual PSI/KL: those need
    ln(), which is libm-dependent — TV = ½Σ|p−q| carries the same
    alert semantics with EXACT integer arithmetic.

    Exactness: the summed statistic is Σ|n_f·N_s − n_s·N_f| (int64) and
    the 0.1 drift threshold is the cross-multiplied integer comparison
    10·Σ > 2·N_f·N_s — shares and TV are divided/rounded only at
    projection, so the verdict can never flip between engines.

    100 TB: collapses to (bucket, half) counts map-side (bucket domain
    = 10 rows); every window runs over the bucket table. At counts
    beyond ~3·10⁹ rows per half the int64 cross-products lift into
    DECIMAL(38,0) — the ts_twap discipline — with the same shape."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = ev.select(
        F.to_date("ts").alias("day"),
        F.least(F.floor(cents / F.lit(5000)).cast("long"), F.lit(9).cast("long")).alias(
            "bucket"
        ),
    )
    wfull = Window.partitionBy()
    # collapse to (bucket, day) grain BEFORE any global window: the
    # min-day split then runs over <= 10 x |days| calendar-bounded rows
    # instead of every event (sp_audit r5 catch: the old row-level
    # window carried 1000→10000 rows across SFs — entity-sized)
    bd = d.groupBy("bucket", "day").agg(F.count("*").alias("n"))
    split = bd.select(
        "bucket",
        "n",
        (
            F.col("day")
            < F.date_add(F.min("day").over(wfull), 15)
        ).alias("is_first"),
    )
    byb = split.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_first"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_first"),
        F.sum(F.when(F.col("is_first"), 0).otherwise(F.col("n")))
        .cast("long")
        .alias("n_second"),
    )
    tot = (
        byb.withColumn("nf", F.sum("n_first").over(wfull))
        .withColumn("ns", F.sum("n_second").over(wfull))
        .withColumn(
            "tv_scaled",
            F.sum(
                F.abs(
                    F.col("n_first") * F.col("ns")
                    - F.col("n_second") * F.col("nf")
                )
            ).over(wfull),
        )
    )

    return tot.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_first",
        "n_second",
        roundn(F.col("n_first") * F.lit(1.0) / F.col("nf"), 6).alias(
            "share_first"
        ),
        roundn(F.col("n_second") * F.lit(1.0) / F.col("ns"), 6).alias(
            "share_second"
        ),
        roundn(
            F.col("tv_scaled")
            * F.lit(1.0)
            / (F.lit(2.0) * F.col("nf") * F.col("ns")),
            6,
        ).alias("tv_distance"),
        (
            F.lit(10) * F.col("tv_scaled")
            > F.lit(2) * F.col("nf") * F.col("ns")
        ).alias("is_drifted"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Benford first-digit forensic gate (r3m wave)
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) to 6 dp — shared literals, NOT computed (log10 is
#: libm; identical literals are engine-exact)
_BENFORD_P = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def _benford_oracle() -> str:
    p_values = ", ".join(f"({d}, {p}e0)" for d, p in _BENFORD_P.items())
    return f"""
    WITH exp_p(digit, p_benford) AS (VALUES {p_values}),
    d AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                                     AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders),
    byd AS (
        SELECT CAST(e.digit AS BIGINT) AS digit, e.p_benford,
               CAST(COUNT(o.digit) AS BIGINT) AS n
        FROM exp_p e LEFT JOIN d o ON o.digit = e.digit
        GROUP BY e.digit, e.p_benford),
    tot AS (
        SELECT digit, p_benford, n, SUM(n) OVER () AS total FROM byd),
    term AS (
        SELECT digit, p_benford, n, total,
               (n - total * p_benford) * (n - total * p_benford)
                   / (total * p_benford) AS chi_term
        FROM tot),
    chi AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   (SELECT list(chi_term ORDER BY digit) FROM term)),
                   (a, b) -> a + b) AS chi2
        FROM (SELECT 1))
    SELECT t.digit, t.n,
           {sql_roundn("t.n * 1.0e0 / t.total", 6)} AS share,
           t.p_benford,
           {sql_roundn("c.chi2", 4)} AS chi2,
           c.chi2 <= 20.09e0 AS is_benford
    FROM term t, chi c
    ORDER BY t.digit
    """


@query("qc_benford_digits", oracle=_benford_oracle())
def qc_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — Benford first-digit audit of order totals: the
    forensic-accounting gate (fabricated or grid-generated amounts
    betray themselves in the leading-digit distribution). Emits the
    per-digit census against the Benford expectation and the χ² fit
    (8 df, α=0.01 critical value 20.09). The SYNTHETIC fixture fails
    the gate by construction — its totals are range-uniform, not
    scale-invariant — which is exactly the finding the gate exists to
    report.

    Portability: Benford probabilities are shared 6-dp LITERALS (log10
    is libm — never computed at runtime); the leading digit comes from
    the integer-cents STRING head (no float log10/pow); the χ² sum is
    an ORDERED fold over the 9 digit terms (the engine-chosen addend
    order of a plain SUM is the one nondeterminism left, and the fold
    removes it).

    100 TB: collapses to 9 digit counts map-side; everything after is
    constant-size."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    d = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    exp_rows = [(d_, p) for d_, p in _BENFORD_P.items()]
    exp_p = d.sparkSession.createDataFrame(
        exp_rows, "digit BIGINT, p_benford DOUBLE"
    )
    counts = F.broadcast(d.groupBy("digit").agg(F.count("*").alias("n")))
    byd = (
        exp_p.join(counts, "digit", "left")
        .select("digit", "p_benford", F.coalesce("n", F.lit(0)).alias("n"))
    )
    wfull = Window.partitionBy()
    tot = byd.withColumn("total", F.sum("n").over(wfull))
    term = tot.withColumn(
        "chi_term",
        (F.col("n") - F.col("total") * F.col("p_benford"))
        * (F.col("n") - F.col("total") * F.col("p_benford"))
        / (F.col("total") * F.col("p_benford")),
    )
    chi2 = F.aggregate(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("digit"), F.col("chi_term"))
            ).over(wfull)
        ),
        F.lit(0.0),
        lambda a, x: a + x.getField("chi_term"),
    )
    return term.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        roundn(F.col("n") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        "p_benford",
        roundn(chi2, 4).alias("chi2"),
        (chi2 <= F.lit(20.09)).alias("is_benford"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance (r3r wave)
# ---------------------------------------------------------------------------

_MV_ORACLE = """
WITH s AS (
    SELECT o_orderkey AS k, o_orderpriority AS g,
           CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents
    FROM orders),
base AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n0,
           CAST(SUM(cents) AS BIGINT) AS sum0_cents
    FROM s GROUP BY g),
delta AS (
    SELECT g, 'U' AS op, CAST(0 AS BIGINT) AS dn,
           CAST(100 AS BIGINT) AS ds
    FROM s WHERE k % 10 = 0
    UNION ALL
    SELECT g, 'D', -1, -cents FROM s WHERE k % 10 <> 0 AND k % 17 = 0
    UNION ALL
    SELECT g, 'I', 1, 2 * cents
    FROM s WHERE k % 10 <> 0 AND k % 17 <> 0 AND k % 13 = 0),
dg AS (
    SELECT g, CAST(SUM(dn) AS BIGINT) AS delta_n,
           CAST(SUM(ds) AS BIGINT) AS delta_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ops
    FROM delta GROUP BY g)
SELECT base.g AS o_orderpriority,
       base.n0, COALESCE(dg.n_ops, 0) AS n_ops,
       base.n0 + COALESCE(dg.delta_n, 0) AS n1,
       base.sum0_cents,
       base.sum0_cents + COALESCE(dg.delta_cents, 0) AS sum1_cents
FROM base LEFT JOIN dg ON dg.g = base.g
ORDER BY o_orderpriority
"""


@query("mv_delta_maintain", oracle=_MV_ORACLE)
def mv_delta_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-extension — incremental MATERIALIZED-VIEW maintenance with
    retractions (the Flink/Materialize pattern, and what BigQuery's
    incremental MVs do under the reference's curated tier): a grouped
    aggregate (orders by priority: count + cents sum) is kept current
    by folding a CDC delta through the RETRACTION ALGEBRA — update
    contributes (0, new−old), delete (−1, −old), insert (+1, +new) —
    instead of rescanning the base table. The delta here is synthesized
    deterministically from orders (k%10 updates at +$1, else k%17
    tombstones, else k%13 inserts of a doubled clone) so maintained ==
    recomputed is testable end to end (tests/test_wave_r3r.py proves
    that law).

    Exactness: the algebra runs entirely in integer cents; COUNT/SUM
    are the self-maintainable aggregates (MIN/MAX are NOT — a deleted
    maximum needs a rescan; documented boundary of the pattern).

    100 TB: the base aggregate is maintained state (here rebuilt once
    as the demo's starting point); steady-state cost is ONE map-side
    combined aggregate over the DELTA (days-worth of changes, not the
    100 TB base) plus a group-key join against the view — the view is
    group-cardinality-sized and broadcastable."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    s = s.localCheckpoint(eager=False)  # base + three delta arms
    base = s.groupBy("g").agg(
        F.count("*").alias("n0"), F.sum("cents").alias("sum0_cents")
    )
    upd = s.filter(F.col("k") % 10 == 0).select(
        "g", F.lit(0).cast("long").alias("dn"), F.lit(100).cast("long").alias("ds")
    )
    dele = s.filter((F.col("k") % 10 != 0) & (F.col("k") % 17 == 0)).select(
        "g", F.lit(-1).cast("long").alias("dn"), (-F.col("cents")).alias("ds")
    )
    ins = s.filter(
        (F.col("k") % 10 != 0) & (F.col("k") % 17 != 0) & (F.col("k") % 13 == 0)
    ).select(
        "g", F.lit(1).cast("long").alias("dn"), (2 * F.col("cents")).alias("ds")
    )
    dg = (
        upd.unionAll(dele)
        .unionAll(ins)
        .groupBy("g")
        .agg(
            F.sum("dn").alias("delta_n"),
            F.sum("ds").alias("delta_cents"),
            F.count("*").alias("n_ops"),
        )
    )
    return (
        base.join(F.broadcast(dg), "g", "left")
        .select(
            F.col("g").alias("o_orderpriority"),
            "n0",
            F.coalesce("n_ops", F.lit(0)).alias("n_ops"),
            (F.col("n0") + F.coalesce("delta_n", F.lit(0))).alias("n1"),
            "sum0_cents",
            (F.col("sum0_cents") + F.coalesce("delta_cents", F.lit(0))).alias(
                "sum1_cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# alert routing across the QC tier (r4 wave)
# ---------------------------------------------------------------------------

#: severity ladder: rank → (severity, channel). The reference routes every
#: failure to ONE email (email_on_failure: True + notifications.email,
#: dags/pipeline_orchestration_dag.py:31-33, pipeline_config.yaml:93-94);
#: a warehouse needs the failures ROUTED by blast radius instead.
_ALERT_ROUTES = {
    1: ("critical", "pagerduty"),
    2: ("high", "dataeng-alerts"),
    3: ("medium", "dataeng-alerts"),
    4: ("low", "dataeng-digest"),
}


def _alert_oracle() -> str:
    """Composed from the underlying keys' OWN oracles (nested derived
    tables) so the alert view can never drift from the checks it
    routes."""
    from gcp_de_data_pipeline_cc_spark.plans.registry import REGISTRY as _R

    def src(key: str) -> str:
        return f"({_R[key].oracle})"

    rows = []
    for rank, cond, check, key_expr, metric, table in (
        (1, "NOT passed", "gate_suite", "gate", "CAST(observed AS DOUBLE)",
         src("qc_gate_suite")),
        (2, "NOT passed", "uniqueness", "test",
         "CAST(n_duplicate_rows AS DOUBLE)", src("qc_uniqueness")),
        (2, "NOT passed", "accepted_values", "test",
         "CAST(n_violations AS DOUBLE)", src("qc_accepted_values")),
        (3, "status <> 'ok'", "freshness", "event_type",
         "CAST(lag_seconds AS DOUBLE)", src("qc_freshness")),
        (4, "drift_flag", "volume_drift",
         "event_type || '@' || strftime(day, '%Y-%m-%d')",
         "CAST(pct_change AS DOUBLE)", src("qc_volume_drift")),
    ):
        sev, chan = _ALERT_ROUTES[rank]
        rows.append(
            f"SELECT CAST({rank} AS INT) AS severity_rank,"
            f" '{sev}' AS severity, '{chan}' AS channel,"
            f" '{check}' AS source_check, {key_expr} AS alert_key,"
            f" {metric} AS metric FROM {table} WHERE {cond}"
        )
    union = " UNION ALL ".join(rows)
    return f"""
    SELECT * FROM ({union})
    ORDER BY severity_rank, source_check, alert_key
    """


@query("qc_alert_routing", oracle=_alert_oracle())
def qc_alert_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALERT ROUTING over the whole QC tier — the reference's
    ``email_on_failure`` analog done warehouse-side: every failing row
    from the gate suite, dbt-style uniqueness / accepted-values tests,
    source freshness, and volume drift lands in ONE severity-ranked
    alert table with a routing channel per blast radius
    (pipeline-blocking gate → pagerduty; contract break → alerts
    channel; staleness → alerts; drift → digest). The QC keys return
    verdict rows; this is the "who gets paged" rollup a run actually
    notifies from.

    The Spark side calls the underlying registered plan builders and
    the oracle NESTS the same keys' own oracle SQL — the routing can
    never drift from the checks it routes (the shared-relation
    injection discipline, applied to SQL composition).

    100 TB: each source check is already dim-sized output; the rollup
    is a union of filtered projections — no new scan of any fact
    table, no shuffle beyond the sources' own."""
    parts = []
    for rank, cond, check, key_col, metric, df in (
        (1, ~F.col("passed"), "gate_suite", F.col("gate"),
         F.col("observed"), qc_gate_suite(spark, sf_dir)),
        (2, ~F.col("passed"), "uniqueness", F.col("test"),
         F.col("n_duplicate_rows"), qc_uniqueness(spark, sf_dir)),
        (2, ~F.col("passed"), "accepted_values", F.col("test"),
         F.col("n_violations"), qc_accepted_values(spark, sf_dir)),
        (3, F.col("status") != "ok", "freshness", F.col("event_type"),
         F.col("lag_seconds"), qc_freshness(spark, sf_dir)),
        (4, F.col("drift_flag"), "volume_drift",
         F.concat(F.col("event_type"), F.lit("@"),
                  F.date_format("day", "yyyy-MM-dd")),
         F.col("pct_change"), qc_volume_drift(spark, sf_dir)),
    ):
        sev, chan = _ALERT_ROUTES[rank]
        parts.append(
            df.filter(cond).select(
                F.lit(rank).cast("int").alias("severity_rank"),
                F.lit(sev).alias("severity"),
                F.lit(chan).alias("channel"),
                F.lit(check).alias("source_check"),
                key_col.cast("string").alias("alert_key"),
                metric.cast("double").alias("metric"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("severity_rank", "source_check", "alert_key")


# ---------------------------------------------------------------------------
# SCD Type 6 (hybrid 1+2+3) merge (r5f wave)
# ---------------------------------------------------------------------------


@query(
    "scd6_merge",
    oracle=f"""
    WITH {{snap}},
    o AS (SELECT *, 1 AS in_old FROM s1),
    n AS (SELECT *, 1 AS in_new FROM s2),
    j AS (
        SELECT cust_id, o.name AS name_o, o.acct_cents AS acct_o,
               n.name AS name_n, n.acct_cents AS acct_n,
               in_old, in_new
        FROM o FULL JOIN n USING (cust_id)),
    hist AS (
        SELECT cust_id, 1 AS version, acct_o AS acct_cents,
               FALSE AS is_current, acct_n AS current_acct_cents,
               CAST(NULL AS BIGINT) AS prev_acct_cents
        FROM j
        WHERE in_old = 1 AND in_new = 1 AND acct_o <> acct_n),
    cur AS (
        SELECT cust_id,
               CASE WHEN in_old = 1 AND in_new = 1 AND acct_o <> acct_n
                    THEN 2 ELSE 1 END AS version,
               COALESCE(acct_n, acct_o) AS acct_cents,
               (in_new = 1) AS is_current,
               COALESCE(acct_n, acct_o) AS current_acct_cents,
               CASE WHEN in_old = 1 AND in_new = 1 AND acct_o <> acct_n
                    THEN acct_o END AS prev_acct_cents
        FROM j)
    SELECT cust_id, CAST(version AS INT) AS version, acct_cents,
           COALESCE(is_current, FALSE) AS is_current,
           current_acct_cents, prev_acct_cents
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM cur)
    ORDER BY cust_id, version
    """.format(snap=_SNAP_SQL),
)
def scd6_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-extension completing the SCD family (1: overwrite, 2: history
    rows, 3: previous column, 4: mini-dimension → 6 = 1+2+3 hybrid):
    every key keeps SCD2-style VERSION ROWS, every row carries the
    SCD1-style ``current_acct_cents`` column (overwritten on history
    rows too — the "show history at today's value" reporting trick),
    and the current row carries the SCD3-style ``prev_acct_cents``.
    Same day-1/day-2 snapshot fixtures as scd2/scd3/scd4, so all four
    strategies are comparable on identical input.

    Exactness: pure key algebra on integer cents — no floats.

    100 TB: one full-outer shuffle on the key (key-coalesced USING
    join); the history branch is a filtered projection of the same
    join, so the fixture scan count stays at two snapshots; the union
    is write-side only."""
    s1, s2 = _snapshots(spark, sf_dir)
    o = s1.select(
        "cust_id",
        F.col("acct_cents").alias("acct_o"),
        F.lit(1).alias("in_old"),
    )
    n = s2.select(
        "cust_id",
        F.col("acct_cents").alias("acct_n"),
        F.lit(1).alias("in_new"),
    )
    j = o.join(n, "cust_id", "full")
    j = j.localCheckpoint(eager=False)  # history + current consumers
    changed = (
        (F.col("in_old") == 1)
        & (F.col("in_new") == 1)
        & (F.col("acct_o") != F.col("acct_n"))
    )
    hist = j.filter(changed).select(
        "cust_id",
        F.lit(1).alias("version"),
        F.col("acct_o").alias("acct_cents"),
        F.lit(False).alias("is_current"),
        F.col("acct_n").alias("current_acct_cents"),
        F.lit(None).cast("long").alias("prev_acct_cents"),
    )
    cur = j.select(
        "cust_id",
        F.when(changed, 2).otherwise(1).alias("version"),
        F.coalesce("acct_n", "acct_o").alias("acct_cents"),
        (F.col("in_new") == 1).alias("is_current"),
        F.coalesce("acct_n", "acct_o").alias("current_acct_cents"),
        F.when(changed, F.col("acct_o")).alias("prev_acct_cents"),
    )
    return (
        hist.unionByName(cur)
        .select(
            "cust_id",
            F.col("version").cast("int").alias("version"),
            "acct_cents",
            F.coalesce("is_current", F.lit(False)).alias("is_current"),
            "current_acct_cents",
            "prev_acct_cents",
        )
        .orderBy("cust_id", "version")
    )


# ---------------------------------------------------------------------------
# chunked portable table checksums (r5j wave)
# ---------------------------------------------------------------------------

#: checksum chunks — diff localization granularity
_CKS_CHUNKS = 16


@query(
    "qc_checksum_chunks",
    oracle=f"""
    WITH h AS (
        SELECT l_orderkey % {_CKS_CHUNKS} AS chunk,
               CAST(CAST('0x' || SUBSTR(md5(
                   CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_linenumber AS VARCHAR) || '|' ||
                   CAST(CAST(FLOOR(l_extendedprice * 100.0e0 + 0.5e0)
                             AS BIGINT) AS VARCHAR)), 1, 12) AS BIGINT)
                   AS BIGINT) AS rh
        FROM lineitem)
    SELECT CAST(chunk AS INT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS xor_checksum,
           CAST(SUM(rh % 1000003) AS BIGINT) AS sum_checksum
    FROM h GROUP BY chunk
    ORDER BY chunk
    """,
)
def qc_checksum_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC tier — CHUNKED order-insensitive table checksums, the
    cross-system reconciliation primitive (it is the same idea the
    verification driver itself uses to compare this repo against
    DuckDB): every row canonicalizes to a delimited string of its key
    and quantized measures, hashes portably (md5-prefix → int48), and
    folds per CHUNK (key mod {c}) under two order-free combiners — XOR
    (cheap, localizes single-row diffs) and a modular SUM (catches the
    paired-flip XOR misses).  Two replicas agree iff all chunk rows
    match; a mismatch names the chunk to re-sync — no row-level data
    movement until then.

    Exactness: int48 hashes are exact in int64; XOR and mod-sums are
    associative/commutative — partition-order-free by construction.

    100 TB: one narrow projection + one map-side-combined groupBy to
    {c} rows; chunk count is the localization/width knob (a real
    deployment keys chunks on the table's partition scheme so a chunk
    re-sync is one partition swap)."""
    li = load_table(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .cast("string"),
    )
    rh = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    return (
        li.select(
            (F.col("l_orderkey") % _CKS_CHUNKS).cast("int").alias("chunk"),
            rh.alias("rh"),
        )
        .groupBy("chunk")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(rh)").cast("long").alias("xor_checksum"),
            F.sum(F.col("rh") % 1000003).cast("long").alias("sum_checksum"),
        )
        .orderBy("chunk")
    )


qc_checksum_chunks.__doc__ = qc_checksum_chunks.__doc__.format(c=_CKS_CHUNKS)


# ---------------------------------------------------------------------------
# duplicate-payment audit (r5k wave)
# ---------------------------------------------------------------------------

#: near-duplicate bands: amount within _DUP_CENTS, dates within _DUP_DAYS
_DUP_CENTS = 100
_DUP_DAYS = 3


@query(
    "qc_duplicate_payments",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d,
               CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                   AS cents
        FROM orders)
    SELECT a.o_custkey, a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.cents AS cents_a, b.cents AS cents_b,
           CAST(ABS(date_diff('day', a.d, b.d)) AS BIGINT) AS day_gap,
           CAST(ABS(a.cents - b.cents) AS BIGINT) AS amount_gap_cents,
           CAST(a.cents = b.cents AS INT) AS exact_amount
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND ABS(a.cents - b.cents) <= {_DUP_CENTS}
     AND ABS(date_diff('day', a.d, b.d)) <= {_DUP_DAYS}
    ORDER BY a.o_custkey, key_a, key_b
    """,
)
def qc_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC tier — the DUPLICATE-PAYMENT audit every AP/finance review
    runs: pairs of orders by the SAME customer whose amounts sit within
    ${d}.00 and dates within {dd} days — the double-submit /
    double-capture signature (exact same-amount pairs flagged
    separately; near-amounts catch fee-adjusted resubmits).  The fuzzy
    sibling of ``qc_uniqueness`` (exact key dups) on the MEASURE axis.

    Exactness: amounts are integer cents, gaps integer — the bands are
    integer comparisons.

    100 TB: the self-join is an EQUI-join on the customer key (the
    band predicates evaluate inside the match), so candidate fan-out
    is Σ|orders-per-customer|² — entity-bounded, never all-pairs; AQE
    skew-split covers whale accounts.  A date-bucket composite key
    ((cust, epoch_week)) is the swap if per-entity order counts grow
    unbounded."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    a, b = o.alias("a"), o.alias("b")
    gap_c = F.abs(F.col("a.cents") - F.col("b.cents"))
    gap_d = F.abs(F.datediff(F.col("a.d"), F.col("b.d")))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (gap_c <= _DUP_CENTS)
            & (gap_d <= _DUP_DAYS),
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.cents").alias("cents_a"),
            F.col("b.cents").alias("cents_b"),
            gap_d.cast("long").alias("day_gap"),
            gap_c.cast("long").alias("amount_gap_cents"),
            (F.col("a.cents") == F.col("b.cents")).cast("int").alias(
                "exact_amount"
            ),
        )
        .orderBy("o_custkey", "key_a", "key_b")
    )


qc_duplicate_payments.__doc__ = qc_duplicate_payments.__doc__.format(
    d=_DUP_CENTS // 100, dd=_DUP_DAYS
)


# ---------------------------------------------------------------------------
# config-driven QC rule runner (r5m wave)
# ---------------------------------------------------------------------------

_QC_RULES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configs",
    "qc_rules.json",
)


def _load_qc_rules(path: str | None = None) -> dict:
    with open(path or _QC_RULES_PATH) as f:
        return json.load(f)


@query(
    "qc_config_rules",
    oracle="""
    WITH checks AS (
        SELECT 'r1' AS rule_id, 'orders' AS tbl, 'min_rows' AS rule,
               CAST(NULL AS VARCHAR) AS col,
               CAST(CASE WHEN (SELECT COUNT(*) FROM orders) >= 100
                    THEN 0 ELSE 1 END AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'r2', 'orders', 'not_null', 'o_orderkey',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderkey IS NULL) AS BIGINT)
        UNION ALL
        SELECT 'r3', 'orders', 'unique', 'o_orderkey',
               CAST((SELECT COALESCE(SUM(c - 1), 0) FROM (
                   SELECT COUNT(*) AS c FROM orders
                   GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
        UNION ALL
        SELECT 'r4', 'orders', 'accepted_values', 'o_orderstatus',
               CAST((SELECT COUNT(*) FROM orders
                WHERE o_orderstatus IS NULL
                   OR o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
        UNION ALL
        SELECT 'r5', 'orders', 'range', 'o_totalprice',
               CAST((SELECT COUNT(*) FROM orders
                WHERE o_totalprice IS NULL
                   OR o_totalprice < 0.0
                   OR o_totalprice > 10000000.0) AS BIGINT)
        UNION ALL
        SELECT 'r6', 'customer', 'not_null', 'c_custkey',
               CAST((SELECT COUNT(*) FROM customer
                     WHERE c_custkey IS NULL) AS BIGINT)
        UNION ALL
        SELECT 'r7', 'customer', 'relationship', 'c_nationkey',
               CAST((SELECT COUNT(*) FROM customer c
                WHERE c.c_nationkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
                    AS BIGINT))
    SELECT rule_id, tbl, rule, col, n_violations,
           CAST(n_violations = 0 AS INT) AS passed
    FROM checks ORDER BY rule_id
    """,
)
def qc_config_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC tier — the CONFIG-DRIVEN rule runner (dbt's
    ``schema.yml``-tests / the reference's ``pipeline_config.yaml`` QC
    block, executed warehouse-side): checks are DECLARED in the
    checked-in ``configs/qc_rules.json`` (min_rows / not_null / unique
    / accepted_values / range / relationship) and a single generic
    runner compiles each into an aggregate over its table — adding a
    check is a config edit, not code.  The oracle mirrors the
    checked-in config literally (the config IS the contract — the
    same discipline as ``end_to_end_pipeline``).

    Exactness: every verdict is an integer violation count.

    100 TB: each rule is one aggregate with map-side combine (the
    unique rule one groupBy); rules on the same table can share a scan
    via ``qc_observe_metrics``' Observation pattern when the suite
    grows; the runner never collects rows — only counts."""
    cfg = _load_qc_rules()
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in {r["table"] for r in cfg["rules"]}
        | {r["to_table"] for r in cfg["rules"] if "to_table" in r}
    }
    out = []
    for r in cfg["rules"]:
        df = tables[r["table"]]
        rule = r["rule"]
        if rule == "min_rows":
            n = df.count()
            viol = 0 if n >= r["threshold"] else 1
        elif rule == "not_null":
            viol = df.filter(F.col(r["column"]).isNull()).count()
        elif rule == "unique":
            viol = collect_bounded(
                df.groupBy(r["column"])
                .count()
                .filter(F.col("count") > 1)
                .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0))),
                1,
                "unique-rule violations",
            )[0][0]
        elif rule == "accepted_values":
            viol = df.filter(
                F.col(r["column"]).isNull()
                | ~F.col(r["column"]).isin(*r["values"])
            ).count()
        elif rule == "range":
            c = F.col(r["column"])
            viol = df.filter(
                c.isNull() | (c < r["min"]) | (c > r["max"])
            ).count()
        elif rule == "relationship":
            viol = (
                df.filter(F.col(r["column"]).isNotNull())
                .join(
                    tables[r["to_table"]].select(
                        F.col(r["to_column"]).alias(r["column"])
                    ),
                    r["column"],
                    "left_anti",
                )
                .count()
            )
        else:  # config error surfaces loudly, not as a silent pass
            raise ValueError(f"unknown rule type: {rule}")
        out.append(
            (r["id"], r["table"], rule, r.get("column"), int(viol))
        )
    return spark.createDataFrame(
        out,
        "rule_id string, tbl string, rule string, col string, "
        "n_violations bigint",
    ).withColumn(
        "passed", (F.col("n_violations") == 0).cast("int")
    ).orderBy("rule_id")


# ---------------------------------------------------------------------------
# qc_psi — Population Stability Index drift gate (r6q wave)
# ---------------------------------------------------------------------------

#: fixed value bins (domain knowledge: event values live in [0, 500))
_PSI_BINW = 50.0
_PSI_NBINS = 10
#: industry alert thresholds, in PSI milli-units (0.10 watch, 0.25 act)
_PSI_WATCH_M = 100
_PSI_ACT_M = 250


def _psi_oracle() -> str:
    return f"""
    WITH split AS (
        SELECT value,
               CAST(CAST(ts AS DATE) >
                    (SELECT MIN(CAST(ts AS DATE))
                            + CAST((MAX(CAST(ts AS DATE))
                                    - MIN(CAST(ts AS DATE))) // 2
                                   AS INTEGER)
                     FROM events) AS INT) AS half
        FROM events),
    binned AS (
        SELECT half,
               LEAST(CAST(FLOOR(value / {_PSI_BINW}e0) AS BIGINT),
                     {_PSI_NBINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM split GROUP BY 1, 2),
    tot AS (
        SELECT half, CAST(SUM(n) AS BIGINT) AS t FROM binned GROUP BY 1),
    grid AS (
        SELECT h.half, b.bin
        FROM (SELECT DISTINCT half FROM binned) h
        CROSS JOIN (SELECT UNNEST(range(0, {_PSI_NBINS})) AS bin) b),
    filled AS (
        SELECT g.half, g.bin, COALESCE(binned.n, 0) + 1 AS n_s, tot.t
        FROM grid g
        LEFT JOIN binned ON binned.half = g.half AND binned.bin = g.bin
        JOIN tot ON tot.half = g.half),
    props AS (
        SELECT bin,
               MAX(CASE WHEN half = 0 THEN n_s END) * 1.0e0
                   / MAX(CASE WHEN half = 0
                              THEN t + {_PSI_NBINS} END) AS p,
               MAX(CASE WHEN half = 1 THEN n_s END) * 1.0e0
                   / MAX(CASE WHEN half = 1
                              THEN t + {_PSI_NBINS} END) AS q
        FROM filled GROUP BY bin),
    terms AS (
        SELECT bin, p, q,
               CAST(FLOOR((q - p) * ln(q / p) * 1000000000.0e0 + 0.5e0)
                    AS BIGINT) AS cq
        FROM props),
    tot_psi AS (
        SELECT FLOOR(CAST(SUM(cq) AS DOUBLE) / 1000000000.0e0
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS psi
        FROM terms)
    SELECT terms.bin,
           {sql_roundn("terms.p", 6)} AS p_ref,
           {sql_roundn("terms.q", 6)} AS p_cur,
           {sql_roundn("(terms.q - terms.p) * ln(terms.q / terms.p)", 6)}
               AS psi_term,
           tot_psi.psi,
           CAST(tot_psi.psi * 1000 > {_PSI_WATCH_M} AS INT) AS is_watch,
           CAST(tot_psi.psi * 1000 > {_PSI_ACT_M} AS INT) AS is_action
    FROM terms CROSS JOIN tot_psi
    ORDER BY terms.bin
    """


@query("qc_psi", oracle=_psi_oracle())
def qc_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-extension — POPULATION STABILITY INDEX, the industry-standard
    drift score beside qc_histogram_drift's total-variation gate:
    PSI = Σ_bins (q−p)·ln(q/p) between the first and second half of
    the event window over a FIXED value grid ({n} bins of {w:.0f};
    data-independent, so the reference histogram is reproducible),
    Laplace-smoothed (+1 per bin) so an empty bin can't produce
    ln(0). The standard operating thresholds ship as columns: 0.10 =
    distribution watch, 0.25 = model-retrain action — the numbers risk
    teams actually page on. TV counts ABSOLUTE mass moved; PSI weights
    movement by log-odds, so a small shift in a RARE bin (exactly
    where score models break) rings PSI long before TV.

    Exactness: bin counts exact int64; per-bin PSI terms are identical
    double trees quantized to integer nano-units before the total (the
    micro-bits discipline); one rounded readout per column.

    100 TB: one map-side bin aggregate over the fact table (the only
    full-data touch); everything downstream is {n}-bin state. The
    half-split scalar is a broadcast min/max; a production run pins the
    reference histogram from a frozen baseline table instead."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    split = ev.crossJoin(F.broadcast(bounds)).select(
        (
            F.to_date("ts")
            > F.expr("date_add(d0, CAST(datediff(d1, d0) / 2 AS INT))")
        ).cast("int").alias("half"),
        F.least(
            F.floor(F.col("value") / F.lit(_PSI_BINW)).cast("bigint"),
            F.lit(_PSI_NBINS - 1),
        ).alias("bin"),
    )
    binned = split.groupBy("half", "bin").agg(
        F.count("*").cast("long").alias("n")
    ).localCheckpoint(eager=False)  # totals + grid fill
    tot = binned.groupBy("half").agg(F.sum("n").cast("long").alias("t"))
    grid = (
        binned.select("half").distinct()
        .crossJoin(
            F.broadcast(
                spark.range(0, _PSI_NBINS).select(F.col("id").alias("bin"))
            )
        )
    )
    filled = (
        grid.join(binned, ["half", "bin"], "left")
        .join(tot, "half")
        .select(
            "half", "bin",
            (F.coalesce(F.col("n"), F.lit(0)) + 1).alias("n_s"),
            "t",
        )
    )
    props = filled.groupBy("bin").agg(
        (
            F.max(F.when(F.col("half") == 0, F.col("n_s"))) * F.lit(1.0)
            / F.max(F.when(F.col("half") == 0, F.col("t") + _PSI_NBINS))
        ).alias("p"),
        (
            F.max(F.when(F.col("half") == 1, F.col("n_s"))) * F.lit(1.0)
            / F.max(F.when(F.col("half") == 1, F.col("t") + _PSI_NBINS))
        ).alias("q"),
    )
    terms = props.select(
        "bin", "p", "q",
        F.floor(
            (F.col("q") - F.col("p"))
            * F.log(F.col("q") / F.col("p"))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        ).cast("long").alias("cq"),
    ).localCheckpoint(eager=False)  # rows + total
    tot_psi = terms.agg(
        (
            F.floor(
                F.sum("cq").cast("double")
                / F.lit(1000000000.0)
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("psi")
    )
    return (
        terms.crossJoin(F.broadcast(tot_psi))
        .select(
            "bin",
            roundn(F.col("p"), 6).alias("p_ref"),
            roundn(F.col("q"), 6).alias("p_cur"),
            roundn(
                (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")),
                6,
            ).alias("psi_term"),
            "psi",
            (F.col("psi") * 1000 > _PSI_WATCH_M).cast("int").alias(
                "is_watch"
            ),
            (F.col("psi") * 1000 > _PSI_ACT_M).cast("int").alias(
                "is_action"
            ),
        )
        .orderBy("bin")
    )


qc_psi.__doc__ = qc_psi.__doc__.format(n=_PSI_NBINS, w=_PSI_BINW)
