"""catalog.fixpoint, the one bounded Spark iteration loop: a loop without
a ``done`` test runs exactly ``max_rounds`` rounds, a converging loop
returns at the first round whose test holds, and a loop that never
converges raises NonConvergence instead of returning its state."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import NonConvergence, fixpoint
from gcp_de_data_pipeline_cc_spark.operators import dedup as dd


def _count_rounds(rounds: list[int]):
    def step(df: DataFrame, r: int) -> DataFrame:
        rounds.append(r)
        return df.select((F.col("n") + 1).alias("n"))

    return step


def _n(df: DataFrame) -> int:
    return df.first()["n"]


def test_fixed_rounds_run_exactly_max_rounds(spark):
    rounds: list[int] = []
    out = fixpoint(
        spark.range(1).select(F.lit(0).alias("n")),
        _count_rounds(rounds),
        max_rounds=4,
        name="fixed",
    )
    assert rounds == [0, 1, 2, 3]
    assert _n(out) == 4


def test_done_returns_at_first_true_round(spark):
    rounds: list[int] = []
    probed: list[int] = []

    def done(df: DataFrame, r: int) -> bool:
        probed.append(r)
        return _n(df) >= 3

    out = fixpoint(
        spark.range(1).select(F.lit(0).alias("n")),
        _count_rounds(rounds),
        max_rounds=10,
        name="to_three",
        done=done,
    )
    assert _n(out) == 3
    assert rounds == probed == [0, 1, 2]


def test_never_converging_step_raises_with_name_and_cap(spark):
    rounds: list[int] = []
    with pytest.raises(NonConvergence) as exc:
        fixpoint(
            spark.range(1).select(F.lit(0).alias("n")),
            _count_rounds(rounds),
            max_rounds=5,
            name="spin",
            done=lambda df, r: False,
        )
    assert (exc.value.name, exc.value.max_rounds) == ("spin", 5)
    assert "spin" in str(exc.value) and "5 rounds" in str(exc.value)
    assert rounds == [0, 1, 2, 3, 4]


def test_connected_components_cap_raises_instead_of_split_labels(spark):
    # the 10-node path needs 9 label-dropping rounds plus one quiet
    # round; 3 rounds leave it split into several partial labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["src", "dst"]
    )
    with pytest.raises(NonConvergence, match="connected_components"):
        dd.connected_components(edges, max_iterations=3).collect()
