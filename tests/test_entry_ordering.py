"""__spark_entry__.queries() ordering contract: the driver samples a
prefix, so officially failed keys come first, then keys whose plan
changed after their last official check (the plan manifest's ``since``),
then never-checked, rows-only and verified keys (oldest check first);
every registry key must appear exactly once."""

from __future__ import annotations

import __spark_entry__ as e
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tools.plan_manifest import SKIP, load


def _order(monkeypatch, status, since):
    """queries() order over a made-up record: ``status`` maps keys to
    (status, last round), ``since`` maps keys to their manifest round."""
    monkeypatch.setattr(e, "_prior_verification_status", lambda: status)
    monkeypatch.setattr(
        e, "_plan_manifest", lambda: {k: {"since": s} for k, s in since.items()}
    )
    return list(e.queries())


def test_queries_covers_registry_exactly():
    q = e.queries()
    assert set(q) == set(REGISTRY)
    assert len(q) == len(REGISTRY)


def test_ordering_tiers_are_monotone():
    """Over the committed records: failed, plan-changed, never-checked,
    rows-only, verified — and within a tier, oldest check first."""
    status = e._prior_verification_status()
    changed = e.plan_changed_keys(status)
    ranks = []
    for n in e.queries():
        level, last = status.get(n, (0, 0))
        tier = 0 if level < 0 else 1 if n in changed else level + 2
        ranks.append((tier, last))
    assert ranks == sorted(ranks)


def test_officially_failed_keys_sort_strictly_first(monkeypatch):
    a, b, c, d = sorted(REGISTRY)[:4]
    order = _order(
        monkeypatch,
        {a: (2, 3), b: (-1, 9), c: (1, 9), d: (-1, 4)},
        {a: 10, b: 1},
    )
    assert order[:2] == [k for k in REGISTRY if k in (b, d)]


def test_changed_plan_precedes_never_checked_keys(monkeypatch):
    """A verified key whose manifest ``since`` is past its last official
    round sorts ahead of every never-checked key; one whose plan the
    driver already saw stays in the verified tier."""
    keys = sorted(REGISTRY)
    changed, seen = keys[-1], keys[-2]
    order = _order(
        monkeypatch,
        {changed: (2, 9), seen: (2, 9)},
        {changed: 10, seen: 9},
    )
    assert order[0] == changed
    assert order[-1] == seen


def test_verified_keys_oldest_check_first(monkeypatch):
    a, b, c = sorted(REGISTRY)[:3]
    order = _order(monkeypatch, {a: (2, 9), b: (2, 2), c: (2, 5)}, {})
    assert order[-3:] == [b, c, a]


def test_manifest_covers_registry():
    manifest = load()
    assert set(manifest) == set(REGISTRY)
    assert {k for k, entry in manifest.items() if "fp" not in entry} == SKIP


def test_oracle_sql_subset_of_queries():
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    # every oracle key matches the registry's oracle text
    for name, sql in o.items():
        assert REGISTRY[name].oracle == sql
