"""Laws for the config-driven end-to-end pipeline key."""

from __future__ import annotations

import copy
import os

import pytest

from gcp_de_data_pipeline_cc_spark.operators.quality import QualityGateError
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from gcp_de_data_pipeline_cc_spark.plans.pipeline_e2e import (
    load_pipeline_config,
    run_configured_pipeline,
)
from tests.conftest import SF_DIR

SUPPLIER_CONFIG = {
    "pipeline_id": "e2e_alt_supplier",
    "load_date": "2024-07-15",
    "landing": {"prefix": "landing"},
    "entities": {
        "supplier": {
            "source": "supplier",
            "columns": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
            "casts": {
                "s_suppkey": "bigint",
                "s_name": "string",
                "s_nationkey": "bigint",
                "s_acctbal": "double",
            },
            "required": ["s_suppkey"],
            "unique": ["s_suppkey"],
        },
        "nation": {
            "source": "nation",
            "columns": ["n_nationkey", "n_name"],
            "casts": {"n_nationkey": "bigint", "n_name": "string"},
            "required": ["n_nationkey"],
            "unique": ["n_nationkey"],
        },
    },
    "quality": {
        "foreign_keys": [["supplier", "s_nationkey", "nation", "n_nationkey"]]
    },
    "curation": {
        "fact": "supplier",
        "dim": "nation",
        "join_on": ["s_nationkey", "n_nationkey"],
        "select": [
            ["supp_id", "s_suppkey"],
            ["name", "s_name"],
            ["acct_cents", "CAST(FLOOR(s_acctbal * 100.0 + 0.5) AS BIGINT)"],
            ["nation", "n_name"],
        ],
        "scd2_key": ["supp_id"],
        "scd2_tracked": ["name", "acct_cents", "nation"],
    },
}


def test_default_config_loads_and_describes_the_chain():
    cfg = load_pipeline_config()
    assert set(cfg["entities"]) == {"customer", "nation"}
    assert cfg["curation"]["scd2_key"] == ["cust_id"]
    assert cfg["quality"]["foreign_keys"]


def test_same_runner_executes_a_second_config(spark):
    out = run_configured_pipeline(spark, SF_DIR, SUPPLIER_CONFIG)
    rows = out.collect()
    n_supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet").count()
    assert len(rows) == n_supp
    r = rows[0]
    # audit columns reflect the actual tier writes
    assert r.n_raw_supplier == n_supp and r.n_stg_supplier == n_supp
    assert r.n_gates_passed == 5 and r.n_archived == 2
    # curated tier laws: fresh SCD2 init, dim fully resolved
    assert all(x.is_current for x in rows)
    assert all(x.effective_from.isoformat() == "2024-07-15" for x in rows)
    assert all(x.nation is not None for x in rows)
    assert len({x.supp_id for x in rows}) == n_supp


def test_failed_gate_aborts_the_run(spark, tmp_path):
    # plant an FK violation: one customer points at a nation that does
    # not exist — referential_integrity must raise, not curate
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    cust_bad = cust.withColumn(
        "c_nationkey",
        cust.c_custkey.cast("bigint") % 2 * 9999 + cust.c_nationkey,
    )
    cust_bad.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/nation.parquet")

    cfg = copy.deepcopy(load_pipeline_config())
    cfg["pipeline_id"] = "e2e_gate_fail"
    with pytest.raises(QualityGateError):
        run_configured_pipeline(spark, str(tmp_path), cfg)
    # ...and nothing was curated or archived
    from gcp_de_data_pipeline_cc_spark.scratch import scratch_path

    work = scratch_path("e2e_gate_fail")
    assert not os.path.exists(os.path.join(work, "cur"))
    assert os.path.exists(
        os.path.join(work, "landing", "customer.csv")
    )  # not archived


#: (build, exec) Spark jobs of end_to_end_pipeline at the test scale
_E2E_JOBS = (38, 3)


def test_end_to_end_pipeline_job_budget(spark):
    sc = spark.sparkContext
    group = "test_end_to_end_pipeline_job_budget"
    try:
        sc.setJobGroup(f"{group}:build", "end_to_end_pipeline build budget")
        df = REGISTRY["end_to_end_pipeline"].spark(spark, SF_DIR)
        sc.setJobGroup(f"{group}:exec", "end_to_end_pipeline exec budget")
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tuple(
        len(sc.statusTracker().getJobIdsForGroup(f"{group}:{phase}"))
        for phase in ("build", "exec")
    )
    assert jobs == _E2E_JOBS
