"""Driver collects in plans are bounded: each goes through
``catalog.collect_bounded``, which raises past its bound and runs no
Spark job a plain collect would not."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark import catalog, plans

#: DataFrame actions that bring rows to the driver
_RAW_COLLECT = re.compile(
    r"\.(?:collect|toPandas|first|toLocalIterator)\(\)|\.(?:take|head|tail)\("
)


def test_plans_collect_only_through_collect_bounded():
    here = os.path.dirname(plans.__file__)
    raw = []
    for name in sorted(os.listdir(here)):
        if name.endswith(".py"):
            with open(os.path.join(here, name)) as f:
                for i, line in enumerate(f, 1):
                    if _RAW_COLLECT.search(line.split("#", 1)[0]):
                        raw.append(f"{name}:{i}: {line.strip()}")
    assert not raw, raw


def test_collect_bounded_raises_past_its_bound(spark):
    df = spark.range(5)
    assert [r.id for r in catalog.collect_bounded(df, 5, "ids")] == [
        0, 1, 2, 3, 4
    ]
    with pytest.raises(ValueError, match="four ids: more than 4 rows"):
        catalog.collect_bounded(df, 4, "four ids")


def _jobs(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_collect_bounded_runs_no_extra_job(spark):
    """On the shape every bounded site collects, a small aggregate
    behind a shuffle, the bound costs no Spark job; over a sort it
    saves the range-boundary sample."""
    agg = (
        spark.range(0, 1000, 1, 4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    assert _jobs(
        spark, "bounded_agg", lambda: catalog.collect_bounded(agg, 7, "k")
    ) == _jobs(spark, "plain_agg", agg.collect)
    ordered = agg.orderBy("k")
    assert _jobs(
        spark, "bounded_sort", lambda: catalog.collect_bounded(ordered, 7, "k")
    ) < _jobs(spark, "plain_sort", ordered.collect)
