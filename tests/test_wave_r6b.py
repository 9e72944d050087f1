"""Semantic laws for the r6b wave: the IVF nprobe tuning sweep."""

from __future__ import annotations

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def test_ivf_sweep_monotone(spark):
    """Recall and candidate cost are both monotone in nprobe, and the
    identities recall = hit/exact hold; n_queries is the fixed-Q
    sample size."""
    import math

    out = (
        REGISTRY["sim_topk_ivf_sweep"].spark(spark, SF_DIR).toPandas()
        .sort_values("nprobe").reset_index(drop=True)
    )
    assert list(out.nprobe) == [1, 2, 4]
    assert (out.n_queries == out.n_queries.iloc[0]).all()
    assert list(out.total_candidates) == sorted(out.total_candidates)
    assert list(out.recall) == sorted(out.recall)
    for _, r in out.iterrows():
        want = math.floor(r.total_hit / r.total_exact * 1e6 + 0.5) / 1e6
        assert abs(r.recall - want) < 1e-9
        assert 0 <= r.total_hit <= r.total_exact


def test_ivf_sweep_brackets_registered_operating_point(spark):
    """The sweep's nprobe=4 recall bounds the registered nprobe=3
    key's mean recall from above, nprobe=2 from below (coarse-probe
    recall is monotone in probes on a fixed index)."""
    sweep = (
        REGISTRY["sim_topk_ivf_sweep"].spark(spark, SF_DIR).toPandas()
        .set_index("nprobe")
    )
    ivf = REGISTRY["sim_topk_ivf"].spark(spark, SF_DIR).toPandas()
    mean3 = ivf.n_hit.sum() / ivf.n_exact.sum()
    assert sweep.loc[2, "recall"] <= mean3 + 1e-9
    assert mean3 <= sweep.loc[4, "recall"] + 1e-9
