"""Graph analytics wave 2: edge-level cohesion (k-truss).

Companion to plans/graph.py's node-level peeling (graph_kcore): the
k-truss keeps an EDGE only while it participates in ≥ k−2 triangles
among survivors — a strictly stronger cohesion filter than the k-core
(every k-truss is inside the (k−1)-core) and the standard community
NUCLEUS used to seed dense-subgraph mining.

Reference parity: the reference repo (Airflow DAG orchestration,
dags/*.py) has no graph engine; this derives from the driver's
analytics mandate on public PySpark/SQL patterns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import fixpoint
from gcp_de_data_pipeline_cc_spark.operators.graph import (
    SUPPLIER_K,
    supplier_backbone,
    supplier_backbone_sql,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query

_KT_K = 4          # truss order: edges need support ≥ k−2 = 2
_KT_ROUNDS = 3     # unrolled peeling rounds


def _ktruss_oracle() -> str:
    sup = _KT_K - 2
    prelude = f"""
    WITH {supplier_backbone_sql("e0", materialize=True)},
    g0 AS MATERIALIZED (
        SELECT sa AS u, sb AS w FROM e0
        UNION ALL SELECT sb, sa FROM e0)"""
    steps = []
    for i in range(1, _KT_ROUNDS + 1):
        steps.append(f"""
    t{i} AS MATERIALIZED (
        SELECT e.sa, e.sb, CAST(COUNT(*) AS BIGINT) AS sup
        FROM e{i-1} e
        JOIN g{i-1} a1 ON a1.u = e.sa
        JOIN g{i-1} a2 ON a2.u = e.sb AND a2.w = a1.w
        GROUP BY 1, 2),
    e{i} AS MATERIALIZED (SELECT sa, sb FROM t{i} WHERE sup >= {sup}),
    g{i} AS MATERIALIZED (
        SELECT sa AS u, sb AS w FROM e{i}
        UNION ALL SELECT sb, sa FROM e{i})""")
    last = _KT_ROUNDS
    final = f""",
    tf AS MATERIALIZED (
        SELECT e.sa, e.sb, CAST(COUNT(*) AS BIGINT) AS sup
        FROM e{last} e
        JOIN g{last} a1 ON a1.u = e.sa
        JOIN g{last} a2 ON a2.u = e.sb AND a2.w = a1.w
        GROUP BY 1, 2),
    sv AS MATERIALIZED (
        SELECT e.sa, e.sb, CAST(COALESCE(tf.sup, 0) AS BIGINT) AS support
        FROM e{last} e
        LEFT JOIN tf ON tf.sa = e.sa AND tf.sb = e.sb),
    fx AS (
        SELECT CAST(SUM(CASE WHEN support < {sup} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below_support
        FROM sv)
    SELECT sv.sa, sv.sb, sv.support, fx.n_below_support
    FROM sv, fx ORDER BY sv.sa, sv.sb"""
    return prelude + "," + ",".join(steps) + final


@query("graph_ktruss", oracle=_ktruss_oracle())
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-TRUSS decomposition on the K={bk} co-shipment backbone:
    repeatedly delete every edge supported by fewer than {s} triangles
    among SURVIVING edges (deleting an edge lowers the support of the
    other two edges of each of its triangles — the cascade that makes
    one pass insufficient). The survivors are the {k}-truss: edge-level
    cohesion strictly stronger than graph_kcore's degree peel (a truss
    edge's endpoints always sit in the (k−1)-core, not conversely) —
    the standard community nucleus. {r} unrolled rounds keep it
    SQL-expressible; ``n_below_support`` is the driver-visible FIXPOINT
    AUDIT (0 proves convergence on this data — the graph_kcore
    contract).

    Exactness: supports are integer triangle counts over the distinct
    canonical edge set; no floats anywhere.

    100 TB: per round, support is one wedge join of the surviving edge
    list against its own adjacency — Σ deg² work on the top-K backbone
    (≤K·n edges, deg ≤ 2K after the cut), monotonically shrinking per
    round; each round's survivor set is checkpointed (catalog.fixpoint)
    so no round re-derives its predecessor. The backbone itself is built
    once per session (operators/graph caches). Run-to-convergence is the
    same fixpoint call with a ``done`` test on this exact per-round
    plan."""
    sup_min = _KT_K - 2
    edges = supplier_backbone(spark, sf_dir)  # (sa, sb), sa < sb

    def adjacency(e: DataFrame) -> DataFrame:
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("sa").alias("u"), F.col("sb").alias("w")),
                    F.struct(F.col("sb").alias("u"), F.col("sa").alias("w")),
                )
            ).alias("o")
        ).select(F.col("o.u").alias("u"), F.col("o.w").alias("w"))

    def support(e: DataFrame) -> DataFrame:
        adj = adjacency(e)
        a1 = adj.select(F.col("u").alias("sa"), F.col("w").alias("wa"))
        a2 = adj.select(F.col("u").alias("sbx"), F.col("w").alias("wb"))
        return (
            e.join(F.broadcast(a1), "sa")
            .join(
                F.broadcast(a2),
                (F.col("sb") == F.col("sbx")) & (F.col("wa") == F.col("wb")),
            )
            .groupBy("sa", "sb")
            .agg(F.count("*").cast("long").alias("sup"))
        )

    def peel(e: DataFrame, _r: int) -> DataFrame:
        return support(e).filter(F.col("sup") >= sup_min).select("sa", "sb")

    edges = fixpoint(edges, peel, max_rounds=_KT_ROUNDS, name="graph_ktruss")
    final_sup = support(edges)
    sv = (
        edges.join(final_sup, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("support"),
        )
        .localCheckpoint(eager=False)  # rows + fixpoint audit
    )
    fx = sv.agg(
        F.sum(F.when(F.col("support") < sup_min, 1).otherwise(0))
        .cast("long")
        .alias("n_below_support")
    )
    return (
        sv.crossJoin(F.broadcast(fx))
        .select("sa", "sb", "support", "n_below_support")
        .orderBy("sa", "sb")
    )


graph_ktruss.__doc__ = graph_ktruss.__doc__.format(
    k=_KT_K, bk=SUPPLIER_K, r=_KT_ROUNDS, s=_KT_K - 2
)
