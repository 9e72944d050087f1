"""Semantic laws for the r5b wave: artifact-repo sync (the PQ-ADC
laws live in test_pq.py)."""

from __future__ import annotations

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# ops_artifact_sync
# ---------------------------------------------------------------------------

def test_artifact_sync_actions_and_convergence(spark):
    """rsync -d semantics: odd regions copy (absent), even regions
    update (stale), the extraneous file deletes; the key itself raises
    unless the trees converge, so a clean return IS the convergence
    proof."""
    out = REGISTRY["ops_artifact_sync"].spark(spark, SF_DIR).toPandas()
    by_action = out.groupby("action").size().to_dict()
    assert by_action.get("delete") == 1
    assert by_action.get("copy", 0) >= 1 and by_action.get("update", 0) >= 1
    # every synced file carries its source hash; the deletion has none
    assert out[out.action == "delete"].src_md5.isna().all()
    assert out[out.action != "delete"].src_md5.notna().all()
    assert (out[out.action != "delete"].n_bytes > 0).all()


def test_artifact_sync_rerun_is_deterministic(spark):
    """scratch is wiped per invocation, so a re-run replays the exact
    same action table (reproducible deploys)."""
    a = REGISTRY["ops_artifact_sync"].spark(spark, SF_DIR).toPandas()
    b = REGISTRY["ops_artifact_sync"].spark(spark, SF_DIR).toPandas()
    assert a.equals(b)
