"""tools/sp_bounds.classify_offenders over synthetic audit records: one
rule for SinglePartition exchanges, BNLJ broadcast sides and Cartesian
sides, checked without Spark."""

from __future__ import annotations

import pytest

from tools.sp_bounds import CAP, classify_offenders


@pytest.mark.parametrize(
    "rec, offenders",
    [
        (
            {"sp_0.001": [1, 8], "sp_0.01": [1, 8],
             "bnlj_0.001": [1, 25], "bnlj_0.01": [1, 25]},
            {},
        ),
        (
            {"sp_0.001": [1, CAP + 1], "sp_0.01": [1, CAP + 1]},
            {("k", "sp"): f"max {CAP + 1} rows > cap {CAP}"},
        ),
        (
            {"bnlj_0.001": [1, 20], "bnlj_0.01": [1, 200]},
            {("k", "bnlj"): "scales with data: 20 -> 200"},
        ),
        # fn_levenshtein's old shape: the whole supplier table broadcast
        (
            {"bnlj_0.001": [10], "bnlj_0.01": [100]},
            {("k", "bnlj"): "scales with data: 10 -> 100"},
        ),
        # a constant 250-row side does not hide a side that grows
        (
            {"bnlj_0.001": [250, 1, 20], "bnlj_0.01": [1, 200, 250]},
            {("k", "bnlj"): "scales with data: 20 -> 200"},
        ),
        # node counts differ: only sides within the 64-row floor pass
        (
            {"bnlj_0.001": [1, 1, 1, 1], "bnlj_0.01": [1, 1, 1]},
            {},
        ),
        (
            {"sp_0.001": [100, 1], "sp_0.01": [100]},
            {("k", "sp"): "scales with data: 0 -> 100"},
        ),
        # graph_articulation's shape: nodes x the |nation| + 1 deletions
        (
            {"cartesian_0.001": [[26, 700]], "cartesian_0.01": [[26, 7000]]},
            {},
        ),
        (
            {"sp_0.001": [1], "err_0.01": "Py4JJavaError: boom"},
            {("k", "err"): "{'err_0.01': 'Py4JJavaError: boom'}"},
        ),
    ],
    ids=[
        "clean", "sp_over_cap", "bnlj_grows", "bnlj_grows_under_floor",
        "constant_side_hides_no_growth", "node_count_differs_small",
        "node_count_differs_large", "cartesian_constant_side", "err",
    ],
)
def test_classify_offenders(rec, offenders):
    assert classify_offenders({"k": rec}) == offenders
