"""Registry-wide measured plan gate → sp_audit.json.

Three node kinds break at 100 TB when the rows they carry grow with the
data: a SinglePartition exchange (one reducer takes its whole input), a
BroadcastNestedLoopJoin (every streamed row meets every row of the
broadcast side) and a CartesianProduct.  The manifest census
(tools/plan_manifest.py) counts them but cannot tell a one-row total
from an entity-sized relation.  This tool measures them: it executes
every non-``SKIP`` key at sf0.001, and at sf0.01 too when sf0.001 showed
one of the kinds, and reads from the executed plans' metrics (through
the AQE plan tree and its subqueries):

- ``sp_<sf>``: the rows written through each SinglePartition exchange;
- ``bnlj_<sf>``: the rows on each BNLJ's broadcast side;
- ``cartesian_<sf>``: ``[left, right]`` rows of each CartesianProduct.

It walks the top-level plan and every plan a ``localCheckpoint`` hid
while the key was built: ``plan_manifest.capture`` returns those frames,
and each keeps the executed plan (and metrics) its checkpoint ran.  A
hidden plan whose checkpoint is never read reports 0 rows for the nodes
of its last stage; its exchanges and broadcasts ran at the checkpoint
call, so their rows are real.

``tools/sp_bounds.classify_offenders`` applies one rule to all three
kinds, and this tool exits 1 on any offender before the artifact can be
committed as clean; tests/test_plans_physical.py runs the same rule over
the committed artifact, and checks that it covers every key whose
manifest shows one of the kinds and that its fingerprints (``fps``)
are the manifest's.

Usage: python tools/sp_audit.py            # writes sp_audit.json (~10 min)
       python tools/sp_audit.py prefix...  # re-audit matching keys, merge
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_de_data_pipeline_cc_spark.plans import REGISTRY
from tools.plan_manifest import SF_DIR, SKIP, analyzed, capture, fingerprint, session
from tools.plan_manifest import dump as one_line_per_key
from tools.sp_bounds import KINDS, classify_offenders

SF_DIRS = (SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "sp_audit.json")


def _unwrap(node):
    """The node an AQE stage or a reused exchange stands for."""
    while True:
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            node = node.plan()
        elif cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            node = node.child()
        else:
            return node


def output_rows(node) -> int:
    """Rows ``node`` produced: the nearest ``numOutputRows`` (or an
    exchange's ``shuffleRecordsWritten``) down a single-child chain;
    -1 where neither can be read."""
    while True:
        node = _unwrap(node)
        for name in ("numOutputRows", "shuffleRecordsWritten"):
            m = node.metrics().get(name)
            if m.isDefined():
                return int(m.get().value())
        kids = node.children()
        if kids.size() != 1:
            return -1
        node = kids.head()


def measured_rows(frames) -> dict[str, list]:
    """Execute ``frames[0]`` (readout-sized, so collect() costs nothing;
    a sink write would run its own QueryExecution) and read, for each
    kind, the rows of every node of that kind in the executed plans of
    all ``frames``."""
    frames[0].collect()
    out: dict[str, list] = {k: [] for k in KINDS}
    identity = frames[0]._sc._jvm.System.identityHashCode  # noqa: SLF001
    seen: set[int] = set()

    def walk(node) -> None:
        node = _unwrap(node)
        ident = identity(node)  # a reused stage resolves to its original
        if ident in seen:
            return
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if (cls == "ShuffleExchangeExec"
                and node.outputPartitioning().toString() == "SinglePartition"):
            out["sp"].append(output_rows(node))
        elif cls == "BroadcastNestedLoopJoinExec":
            side = node.right() if node.buildSide().toString() == "BuildRight" \
                else node.left()
            out["bnlj"].append(output_rows(side))
        elif cls == "CartesianProductExec":
            out["cartesian"].append(
                [output_rows(node.left()), output_rows(node.right())]
            )
        for kids in (node.children(), node.subqueries()):
            it = kids.iterator()
            while it.hasNext():
                walk(it.next())

    for df in frames:
        walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return {k: v for k, v in out.items() if v}


def audit(spark, name: str) -> tuple[dict, str | None]:
    """``name``'s record (``<kind>_<sf>`` lists, or ``err_<sf>``) and
    its plan fingerprint at sf0.001."""
    rec: dict = {}
    fp = None
    for sf_dir in SF_DIRS:
        sf = sf_dir.rsplit("sf", 1)[1]
        try:
            _, frames = capture(spark, name, explain=lambda d: d, sf_dir=sf_dir)
            if sf_dir == SF_DIR:
                fp = fingerprint([analyzed(d) for d in frames])
            rows = measured_rows(frames)
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            rec[f"err_{sf}"] = str(ex)[:160]
            continue
        rec.update({f"{k}_{sf}": v for k, v in rows.items()})
        if not rec:
            break  # none of the kinds at sf0.001: skip the larger SF
    return rec, fp


def dump(payload: dict) -> str:
    """The payload with one line per key in ``fps`` and ``keys``, so a
    diff names the keys that moved."""
    return (
        f'{{"audited": {payload["audited"]},\n'
        f'"skip": {json.dumps(payload["skip"])},\n'
        f'"fps": {one_line_per_key(payload["fps"]).rstrip()},\n'
        f'"keys": {one_line_per_key(payload["keys"]).rstrip()}}}\n'
    )


def main() -> int:
    prefixes = tuple(a for a in sys.argv[1:] if not a.startswith("-"))
    spark = session()
    names = [
        n for n in sorted(REGISTRY)
        if n not in SKIP and (not prefixes or n.startswith(prefixes))
    ]
    out: dict[str, dict] = {}
    fps: dict[str, str] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        rec, fp = audit(spark, name)
        if fp is not None:
            fps[name] = fp
        if rec:
            out[name] = rec
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{len(names)} audited ({time.time() - t0:.0f}s)")
    spark.stop()

    if prefixes and os.path.exists(PATH):
        # a subset run replaces the records of the keys it re-audited
        # (a re-audited key keeps only the fields it measured now) and
        # drops keys no longer in the registry
        current = {n for n in REGISTRY if n not in SKIP}
        with open(PATH) as f:
            prev = json.load(f)
        fps = {
            k: v for k, v in {**prev["fps"], **fps}.items() if k in current
        }
        out = {
            k: v for k, v in {**prev["keys"], **out}.items()
            if k in current and (k in out or k not in names)
        }
    payload = {"audited": len(fps), "fps": fps, "skip": sorted(SKIP), "keys": out}
    with open(PATH, "w") as f:
        f.write(dump(payload))
    print(f"{len(names)} keys audited, {len(out)} of {len(fps)} with a "
          f"SinglePartition exchange, BNLJ or Cartesian "
          f"({time.time() - t0:.0f}s)")
    for name in names:
        if name in out:
            print(f"  {name}: {json.dumps(out[name], sort_keys=True)}")

    offenders = classify_offenders(out)
    if offenders:
        print("\nOFFENDERS (restructure the key, or exempt it in "
              "tools/sp_bounds.py with its measured rows and domain):")
        for kind in (*KINDS, "err"):
            rows = {k: why for (k, kd), why in offenders.items() if kd == kind}
            if rows:
                print(f"  {kind}:")
                for key, why in sorted(rows.items()):
                    print(f"    {key}: {why}")
        return 1
    print("classification: clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
