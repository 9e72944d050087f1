"""Semantic laws for the r4k wave: ROC-AUC and calibration/ECE evals."""

from __future__ import annotations

import duckdb
import pandas as pd

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from gcp_de_data_pipeline_cc_spark.functions.uniform import sql_u48
from gcp_de_data_pipeline_cc_spark.plans.evals import _POS_SQL
from tests.conftest import SF_DIR


def _scored_log() -> pd.DataFrame:
    """The eval log recomputed independently in DuckDB (same derivation
    constants, but consumed by PANDAS rank math below, not SQL windows)."""
    u = sql_u48("s")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    return con.execute(
        f"""
        SELECT FLOOR((0.6e0 * ({u}) +
                      CASE WHEN {_POS_SQL} THEN 0.4e0 ELSE 0.0e0 END)
                     * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS score,
               CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
        FROM orders
        """
    ).df()


def test_auc_matches_pandas_average_rank_formula(spark):
    out = REGISTRY["eval_auc_roc"].spark(spark, SF_DIR).toPandas()
    log = _scored_log()
    ranks = log["score"].rank(method="average")
    p = int(log["pos"].sum())
    n = len(log) - p
    s = float(ranks[log["pos"] == 1].sum())
    want = (s - p * (p + 1) / 2) / (p * n)
    got = float(out["auc"].iloc[0])
    assert abs(got - want) < 2e-6
    assert (out["n_pos"] == p).all() and (out["n_neg"] == n).all()


def test_auc_roc_confusion_identities(spark):
    out = (
        REGISTRY["eval_auc_roc"]
        .spark(spark, SF_DIR)
        .toPandas()
        .sort_values("threshold")
        .reset_index(drop=True)
    )
    assert len(out) == 10
    p, n = out["n_pos"].iloc[0], out["n_neg"].iloc[0]
    assert ((out["tp"] + out["fn"]) == p).all()
    assert ((out["fp"] + out["tn"]) == n).all()
    # threshold 0.0 accepts everything
    first = out.iloc[0]
    assert first["tp"] == p and first["fp"] == n
    assert first["tpr"] == 1.0 and first["fpr"] == 1.0
    # raising the threshold never admits more
    assert out["tp"].is_monotonic_decreasing
    assert out["fp"].is_monotonic_decreasing
    # informative-but-noisy classifier: strictly better than chance
    assert 0.85 < first["auc"] < 1.0
    assert abs(first["gini"] - round(2 * first["auc"] - 1, 6)) < 2e-6


def test_calibration_planted_overconfidence(spark):
    out = (
        REGISTRY["eval_calibration_ece"]
        .spark(spark, SF_DIR)
        .toPandas()
        .sort_values("bin")
    )
    # bins partition the eval log
    assert out["n"].sum() == out["n_total"].iloc[0]
    # the planted 8-point overconfidence is visible: reported confidence
    # exceeds realized accuracy in every well-populated bin, and the
    # aggregate ECE sits near the planted gap
    pop = out[out["n"] >= 30]
    assert (pop["avg_conf"] > pop["accuracy"]).all()
    assert 0.03 < out["ece"].iloc[0] < 0.15
    # ece is the n-weighted mean of per-bin gaps (<= rounding slack)
    want = (out["n"] * out["gap"]).sum() / out["n_total"].iloc[0]
    assert abs(out["ece"].iloc[0] - want) < 1e-4


def test_calibration_gap_is_conf_minus_acc(spark):
    out = REGISTRY["eval_calibration_ece"].spark(spark, SF_DIR).toPandas()
    diff = (out["avg_conf"] - out["accuracy"]).abs() - out["gap"]
    assert diff.abs().max() < 2e-6
