"""Extended relational coverage: pivot, exact/approx percentiles, string
similarity — curation-tier reporting shapes beyond the core inventory."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): order counts by priority × status. Explicit
    pivot values keep the plan single-pass (no distinct-values pre-scan
    — mandatory at scale)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           FLOOR(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0 AS median_qty,
           FLOOR(quantile_cont(l_extendedprice, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group — the QC /
    reporting distribution metric. Scale note: exact percentile holds the
    group's values; prefer approx_percentile (t-digest sketch, bounded
    memory) beyond dashboard-sized groups — shown in agg_percentile_approx.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        roundn(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        roundn(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@query("agg_percentile_approx", oracle=None)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via fixed-size sketch (rows-only: ±accuracy
    vs exact, asserted in tests) — the 100 TB path for distribution
    metrics, like HLL for distinct counts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("median_qty_approx"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty_exact"),
    )


@query(
    "fn_levenshtein",
    oracle="""
    SELECT c_custkey, s_suppkey,
           CAST(levenshtein(c_name, s_name) AS INT) AS edit_dist
    FROM customer CROSS JOIN supplier
    WHERE c_custkey < 30
    """,
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String similarity (fuzzy entity matching, the staging-tier
    standardization problem the reference's cleansing stage implies):
    edit distance over a bounded candidate block. Scale: always block
    (here by key range; in production by phonetic/prefix keys) — never
    all-pairs; the block is the broadcast side, every supplier streams
    past it."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 30)
    s = load_table(spark, sf_dir, "supplier")
    return F.broadcast(c).crossJoin(s).select(
        "c_custkey",
        "s_suppkey",
        F.levenshtein("c_name", "s_name").alias("edit_dist"),
    )
