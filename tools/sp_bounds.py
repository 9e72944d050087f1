"""The one scale rule over measured plans (sp_audit.json).

``tools/sp_audit.py`` records, per key and scale factor, the rows each
of three node kinds carried: every SinglePartition exchange (``sp``),
every BroadcastNestedLoopJoin's broadcast side (``bnlj``) and both sides
of every CartesianProduct (``cartesian``).  One rule holds for all of
them: the bounded side (the exchange's input, the broadcast side, the
smaller Cartesian side) stays under an absolute cap, and a side above
64 rows (past shuffle-partition artifacts) carries at most 3x more rows
for 10x more data.  Growth is checked node by node: each kind's sides,
sorted, pair up across the two scale factors, so a large constant side
cannot hide a smaller one that grows; when the node counts differ no
pairing holds, and every sf0.01 side must stay within the 64 rows.
Rows bounded by a domain (one-row totals, ``__pid`` offsets, class
labels, a calendar spine) pass; rows that grow with the data do not.

Both the audit (before it writes the artifact) and
tests/test_plans_physical.py (over the committed artifact) call
:func:`classify_offenders`, so an artifact with an offender cannot be
written as clean.
"""

from __future__ import annotations

#: the measured node kinds, as named in sp_audit.json fields
KINDS = ("sp", "bnlj", "cartesian")

#: the absolute cap on a bounded side: a generous multiple of the
#: shuffle-partition ``__pid`` offsets and scalar readouts that
#: dominate the audited population
CAP = 256

#: (key, kind) -> cap, for sides whose domain is larger than ``CAP``;
#: each comment gives the domain and the rows measured at sf0.001 ->
#: sf0.01.  The growth rule still applies to them.
EXEMPT: dict[tuple[str, str], int] = {
    # the order-date day spine, at most 2406 calendar days at any SF:
    # 1094 -> 2399 rows (ts_sample_entropy's template pairs 1092 -> 2397)
    **{(k, "sp"): 2500 for k in (
        "stats_runs_test", "ts_adf", "ts_bartels_rank",
        "ts_changepoint_binseg", "ts_cox_stuart", "ts_downsample_lttb",
        "ts_ewma_control", "ts_hurst_rs", "ts_kpss", "ts_peak_detect",
        "ts_sample_entropy", "ts_turning_points", "ts_variance_ratio",
    )},
    ("ts_ewma_control", "bnlj"): 2500,
    ("ts_sample_entropy", "bnlj"): 2500,
    # the hour spine of the 30-day events window, at most 744 hours:
    # 531 -> 720 rows through the exchanges, 720 -> 720 broadcast
    **{(k, "sp"): 744 for k in (
        "sli_burn_rate_alerts", "ts_crosscorr", "ts_granger",
    )},
    ("ts_gapfill", "bnlj"): 744,
    ("ts_interpolate", "bnlj"): 744,
    # brand-pair rollup, bounded by the brand domain: 351 -> 351
    ("market_basket", "sp"): 400,
    # distinct document lengths (the n_chars domain): 311 -> 313
    ("stats_kruskal_wallis", "sp"): 512,
    # the merged sample, _QS_SHARDS x (_QS_PER_SHARD + 1) rows: 260 -> 264
    ("sketch_quantile_samples", "sp"): 264,
}


def bounded_sides(kind: str, rows: list) -> list[int]:
    """One kind's bounded sides, sorted (a Cartesian's smaller side)."""
    return sorted(min(r) if kind == "cartesian" else r for r in rows)


def classify_offenders(audit_keys: dict[str, dict]) -> dict[tuple[str, str], str]:
    """``{(key, kind): why}`` for every audited node kind that errored
    (kind ``err``), went unmeasured, exceeds its cap, or has a side that
    grows with the data (10x input -> more than 3x rows, past 64).
    Empty: the artifact is clean."""
    offenders: dict[tuple[str, str], str] = {}
    for key, rec in audit_keys.items():
        errs = {f: v for f, v in rec.items() if f.startswith("err")}
        if errs:
            offenders[key, "err"] = str(errs)
            continue
        for kind in KINDS:
            lo = bounded_sides(kind, rec.get(f"{kind}_0.001", []))
            hi = bounded_sides(kind, rec.get(f"{kind}_0.01", []))
            cap = EXEMPT.get((key, kind), CAP)
            pairs = zip(lo if len(lo) == len(hi) else [0] * len(hi), hi)
            grown = [(a, b) for a, b in pairs if b > 64 and b > 3 * a]
            if min(lo + hi, default=0) < 0:
                offenders[key, kind] = "rows not measured"
            elif max(lo + hi, default=0) > cap:
                offenders[key, kind] = f"max {max(lo + hi)} rows > cap {cap}"
            elif grown:
                offenders[key, kind] = "scales with data: " + ", ".join(
                    f"{a} -> {b}" for a, b in grown
                )
    return offenders
