"""Scale-pattern tests: bucketed joins must not exchange, salted joins
must not change results, IVF must recall clustered neighbors, stateful
streaming totals must equal the batch aggregate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.operators.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from gcp_de_data_pipeline_cc_spark.operators.similarity import (
    cosine_topk,
    ivf_topk_portable,
)
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark):
    o = load_table(spark, SF_DIR, "orders").select(F.col("o_orderkey").alias("k"))
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    write_bucketed(o, "t_bkt_o", ["k"], 4)
    write_bucketed(li, "t_bkt_l", ["k"], 4)
    joined = bucketed_join(spark, "t_bkt_o", "t_bkt_l", ["k"])
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must be shuffle-free"
    # and correct
    assert joined.count() == li.count()


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plain = li.join(o, "k")
    salted = salted_join(li, o, "k", salt_buckets=4, salt_source="l_linenumber")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.groupBy("o_orderpriority").count().collect()}
    b = {tuple(r) for r in salted.groupBy("o_orderpriority").count().collect()}
    assert a == b


def test_ivf_recall_on_clustered_vectors(spark):
    rng = np.random.RandomState(11)
    dim, n_cells, per_cell = 16, 8, 25
    centers = rng.standard_normal((n_cells, dim)) * 3
    rows = []
    vid = 0
    for cell in range(n_cells):
        for _ in range(per_cell):
            rows.append(
                (vid, cell, (centers[cell] + 0.3 * rng.standard_normal(dim)).tolist())
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 10 == 0)

    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(queries, df, k=5).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk_portable(queries, df, k=5, nprobe=2).collect()
    }
    hits = sum(approx.get(key) == nid for key, nid in exact.items())
    recall = hits / len(exact)
    assert recall >= 0.9, f"IVF recall@5 {recall:.2f}"
