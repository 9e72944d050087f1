"""The one plan manifest: capture, fingerprint and count every registry
key's plans → plan_manifest.json + PLANS.md.

The manifest holds one line per registry key.  A ``SKIP`` key's line
holds only ``oracle`` and ``since``; every other key's line holds:

- ``fp``: the first 16 hex digits of the sha256 of the key's normalised
  *analyzed* logical plans: the top-level plan, then every plan a
  ``localCheckpoint`` hid while the key was built, in creation order.
  Analyzed plans, not physical ones: ``RewriteDistinctAggregates``
  orders its ``Expand`` projections by expression hash, so the formatted
  physical plan of the same code can differ between two JVMs.
  Normalising strips the counters the analyzer hands out (exprIds,
  lambda-variable suffixes, CTE and UnionLoop ids); the analyzed text
  holds no file path and no RDD id.
- the physical census: the ``_METRICS`` counts on the top-level
  formatted plan.
- ``hidden``: the non-zero counts of the three node kinds
  tools/sp_audit.py measures (SinglePartition exchange, BNLJ,
  Cartesian) over the checkpoint-hidden physical plans.  The audit
  gates every such node, top-level or hidden, by its measured rows, and
  tests/test_plans_physical.py fails on a key that shows one here or in
  the census but has no audit record.  Like ``schema`` it does not
  reset ``since``: the fp already covers the hidden plans.
- ``oracle``: the first 16 hex digits of the sha256 of the key's DuckDB
  oracle text with the whitespace outside single-quoted literals
  normalised (:func:`oracle_hash`); null for a rows-only key.
- ``since``: the first official verification round that could have
  checked this plan and oracle.  A regenerated entry keeps the committed
  ``since`` while its fp, counts and oracle hash are unchanged;
  otherwise it gets the latest ``CORRECTNESS_rNN.json`` round + 1.
  ``__spark_entry__.queries()`` puts a key whose ``since`` is past its
  last official check first in line for the driver's sample.
- ``schema``: the output's ``[column, type]`` pairs (Spark
  ``simpleString`` types), which tests/test_schema_parity.py checks
  without building the key.
- ``python_range``: the Python exec nodes (every kind: ``EvalPython``,
  the UDTF nodes, ``MapInPandas``, ``FlatMapGroupsInPandas``, ...)
  whose nearest exchange above is a ``rangepartitioning`` one, over the
  top-level and the checkpoint-hidden physical plans.  A global sort
  samples its range boundaries by re-running the stage below it, so
  such a node runs its Python twice per row; tests/test_plan_manifest.py
  holds the count at 0.  Like ``schema`` it does not reset ``since``.

Every key is built from cold session caches (``catalog.clear()``) at
``SF_DIR`` (the sf0.001 warehouse ``entry()`` smoke-runs on) in one
fixed session shape (``session()``), so the manifest depends neither on
key order nor on the host's core count.

Blind spots.  A fingerprint does not see:

- Python UDF bodies and closures: a change inside ``fn_jaro_winkler``'s
  scorer or ``_pq_search``'s scan leaves the fp as it was;
- side effects while the plan is built: the pipeline keys' tier writes
  have changed while their plans did not;
- the ``SKIP`` keys' plans: only their oracles are tracked here;
- an oracle change that only moves whitespace outside a quoted literal
  (DuckDB parses it the same).

So an algorithm change behind an unchanged fp still needs a by-hand
check at sf0.1.

Usage:
    python tools/plan_manifest.py            # rewrite plan_manifest.json + PLANS.md
    python tools/plan_manifest.py --check    # recompute, write nothing; exit 1 on drift
    python tools/plan_manifest.py <key>...   # print those keys' plans, write nothing
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from __spark_entry__ import SMOKE_SF_DIR as SF_DIR  # noqa: E402
from gcp_de_data_pipeline_cc_spark import catalog  # noqa: E402
from gcp_de_data_pipeline_cc_spark.plans import REGISTRY  # noqa: E402
from gcp_de_data_pipeline_cc_spark.session import build_session  # noqa: E402

MANIFEST = os.path.join(REPO, "plan_manifest.json")

#: queries whose plan cannot be built without side effects (streams,
#: table writes); they have dedicated plan tests instead
SKIP = frozenset({
    "incremental_watermark_ingest",
    "stream_ingest_e2e", "stream_watermark_dedup", "stream_custom_stateful",
    "stream_tumbling", "stream_sliding", "stream_topk", "stream_stream_join",
    "stream_static_enrich", "stream_foreachbatch_upsert",
    "join_bucketed", "compact_small_files", "zorder_layout",
    "time_travel_read", "log_compact_retention", "file_stats_manifest",
    "partition_overwrite", "json_corrupt_quarantine", "csv_roundtrip",
    "sink_roundtrip", "json_roundtrip", "orc_roundtrip", "xml_roundtrip",
    "text_roundtrip", "schema_evolution_read", "custom_datasource_scan",
    "join_partition_pruned", "scd2_merge", "scd1_upsert", "scd3_merge",
    "join_bloom_pruned", "agg_incremental", "corpus_curation",
    "training_prep", "dedup_clusters", "graph_pagerank", "sessionize_path",
})

#: counted on the "(N) NodeName" detail lines of the formatted explain
#: (tree lines would double-count every node); exchange partitioning
#: lives on the Arguments: line under the Exchange detail node
_METRICS = {
    "scans": r"\(\d+\) Scan parquet",
    "exchanges": r"Arguments: hashpartitioning",
    "single_part": r"Arguments: SinglePartition",
    "broadcasts": r"\(\d+\) BroadcastExchange",
    "bhj": r"\(\d+\) BroadcastHashJoin",
    "smj": r"\(\d+\) SortMergeJoin",
    "shj": r"\(\d+\) ShuffledHashJoin",
    "bnlj": r"\(\d+\) BroadcastNestedLoopJoin",
    "cartesian": r"\(\d+\) CartesianProduct",
    "windows": r"\(\d+\) Window\b",
    "group_limit": r"\(\d+\) WindowGroupLimit",
    "top_k": r"\(\d+\) TakeOrderedAndProject",
    "pushed": r"PushedFilters: \[[^\]]",
    "python": r"EvalPython",
}

#: the node kinds tools/sp_audit.py measures, as :func:`physical` prints
#: them; ``hidden`` counts them over the checkpoint-hidden plans
_HIDDEN = {
    k: re.compile(rf"^[ :+-]*{node}\b", re.M)
    for k, node in (
        ("single_part", "Exchange SinglePartition"),
        ("bnlj", "BroadcastNestedLoopJoin"),
        ("cartesian", "CartesianProduct"),
    )
}

#: a single-quoted SQL literal (``''`` escapes a quote); whitespace inside
#: one is data
_SQL_LITERAL = re.compile(r"('(?:[^']|'')*')")

#: whitespace beside a parenthesis or comma; SQL parses the same without it
_SPACE_AT_PUNCT = re.compile(r"\s*([(),])\s*")

#: counters the analyzer hands out; they differ between runs and orders
_COUNTERS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"(CTERelation(?:Def|Ref)) \d+"), r"\1"),
    (re.compile(r"(UnionLoop(?:Ref)?) \d+"), r"\1"),
)


def session():
    return build_session(
        app_name="plan-manifest",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def physical(df) -> str:
    """The physical plan as a tree, one node per line (under AQE, the
    initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


#: a physical node that runs Python code on the executors
_PYTHON_NODE = re.compile(r"\w*(?:Python|InPandas|InArrow)\w*\b")

#: a node that ends a stage: its subtree runs in the stages below
_EXCHANGE_NODE = re.compile(r"(?:\w*Exchange|\w*QueryStage)\b")


def python_under_range(tree: str) -> int:
    """The Python nodes of a :func:`physical` tree whose nearest
    exchange above is ``rangepartitioning``: they share a stage with
    the sample job of a global sort, which runs that stage once more."""
    above: list[str] = []
    n = 0
    for line in tree.splitlines():
        node = line.lstrip(" :+-")
        depth = (len(line) - len(node)) // 3
        del above[depth:]
        if _PYTHON_NODE.match(node):
            exchange = next(
                (a for a in reversed(above) if _EXCHANGE_NODE.match(a)), ""
            )
            n += exchange.startswith("Exchange rangepartitioning")
        above.append(node)
    return n


def capture(spark, key: str, explain=analyzed, sf_dir: str = SF_DIR):
    """Build ``key`` at ``sf_dir`` from cold session caches.  Returns the
    frame and ``explain`` of its top-level plan followed by ``explain``
    of every frame a ``localCheckpoint`` hid, taken as each checkpoint is
    called (in creation order); ``explain=lambda d: d`` keeps the frames."""
    hidden: list = []
    original = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        hidden.append(explain(self))
        return original(self, *args, **kwargs)

    catalog.clear()
    DataFrame.localCheckpoint = recording
    try:
        df = REGISTRY[key].spark(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = original
    return df, [explain(df), *hidden]


def fingerprint(plans: list[str]) -> str:
    text = "\n\n".join(plans)
    for pattern, repl in _COUNTERS:
        text = pattern.sub(repl, text)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def oracle_hash(sql: str | None) -> str | None:
    """sha256[:16] of ``sql`` with the whitespace outside single-quoted
    literals normalised: each run collapsed to one space, and none kept
    beside a parenthesis or comma.  None for a rows-only key."""
    if sql is None:
        return None
    parts = _SQL_LITERAL.split(sql)
    text = "".join(
        p if i % 2 else _SPACE_AT_PUNCT.sub(r"\1", re.sub(r"\s+", " ", p))
        for i, p in enumerate(parts)
    ).strip()
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def census(df) -> dict[str, int]:
    plan = formatted(df)
    return {k: len(re.findall(pat, plan)) for k, pat in _METRICS.items()}


def hidden_census(trees: list[str]) -> dict[str, int]:
    """The non-zero ``_HIDDEN`` counts over :func:`physical` trees."""
    counts = {k: sum(len(p.findall(t)) for t in trees) for k, p in _HIDDEN.items()}
    return {k: n for k, n in counts.items() if n}


def output_schema(df) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema]


def load() -> dict[str, dict]:
    try:
        with open(MANIFEST) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _latest_round() -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0)


def _tracked(entry: dict) -> dict:
    """The fields whose change resets ``since``: fp, oracle and census."""
    return {
        k: v
        for k, v in entry.items()
        if k not in ("since", "schema", "python_range", "hidden")
    }


def build(committed: dict[str, dict]) -> tuple[dict[str, dict], dict[str, str]]:
    """Recompute every entry; returns (entries, {key: build error})."""
    spark = session()
    next_round = _latest_round() + 1
    entries: dict[str, dict] = {}
    failed: dict[str, str] = {}
    for key in sorted(REGISTRY):
        entry = {"oracle": oracle_hash(REGISTRY[key].oracle), "since": next_round}
        if key not in SKIP:
            try:
                df, plans = capture(
                    spark, key, explain=lambda d: (analyzed(d), physical(d))
                )
            except Exception as ex:  # noqa: BLE001 — report every key, then fail
                failed[key] = f"{type(ex).__name__}: {ex}"[:200]
                continue
            entry = {
                "fp": fingerprint([a for a, _ in plans]),
                **entry,
                **census(df),
                "schema": output_schema(df),
                "python_range": sum(python_under_range(p) for _, p in plans),
                "hidden": hidden_census([p for _, p in plans[1:]]),
            }
        old = committed.get(key)
        if old is not None and _tracked(old) == _tracked(entry):
            entry["since"] = old["since"]
        entries[key] = entry
    spark.stop()
    return entries, failed


def dump(entries: dict[str, dict]) -> str:
    """One line per key, so a diff of the file names exactly the keys
    whose plans changed."""
    body = ",\n".join(
        f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(entries.items())
    )
    return "{\n" + body + "\n}\n"


def plans_md(entries: dict[str, dict]) -> str:
    entries = {k: e for k, e in entries.items() if k not in SKIP}
    totals = Counter()
    for e in entries.values():
        totals.update({k: e[k] for k in _METRICS})
    lines = [
        "# PLANS — physical-plan census",
        "",
        f"{len(entries)} registered queries planned (streams/write-side "
        f"excluded: {len(SKIP)}); generated by tools/plan_manifest.py from "
        "plan_manifest.json; the invariants behind these numbers are "
        "enforced by tests/test_plans_physical.py. The metric rows read "
        "the top-level plan, where a localCheckpoint hides its upstream "
        "subtree, so checkpointed queries under-count scans; the "
        "`hidden` rows count the three scale-gated node kinds in the "
        "checkpoint-hidden plans. tools/sp_audit.py measures the rows "
        "through every SinglePartition exchange, BNLJ broadcast side and "
        "Cartesian side in top-level and hidden plans alike, and the "
        "tests gate them (`python tools/plan_manifest.py <key>` prints "
        "a key's hidden plans).",
        "",
        "| metric | total | queries with >0 |",
        "|---|---|---|",
    ]
    for k in _METRICS:
        n_q = sum(1 for e in entries.values() if e[k])
        lines.append(f"| {k} | {totals[k]} | {n_q} |")
    for k in _HIDDEN:
        n = [e["hidden"].get(k, 0) for e in entries.values()]
        lines.append(f"| hidden {k} | {sum(n)} | {sum(map(bool, n))} |")
    lines += [
        "",
        "Heaviest plans by shuffle count:",
        "",
        "| query | scans | exchanges | joins (bhj/smj/shj/bnlj) | windows |",
        "|---|---|---|---|---|",
    ]
    top = sorted(entries.items(), key=lambda kv: (-kv[1]["exchanges"], kv[0]))
    for name, e in top[:15]:
        lines.append(
            f"| `{name}` | {e['scans']} | {e['exchanges']} | "
            f"{e['bhj']}/{e['smj']}/{e['shj']}/{e['bnlj']} | {e['windows']} |"
        )
    return "\n".join(lines) + "\n"


def print_plans(keys: list[str]) -> None:
    spark = session()
    for key in keys:
        _, plans = capture(spark, key, explain=formatted)
        print(f"== TOP-LEVEL PLAN: {key} ==\n{plans[0]}")
        for i, sub in enumerate(plans[1:]):
            print(f"\n== PRE-CHECKPOINT SUB-PLAN {i} (creation order) ==\n{sub}")
    spark.stop()


def main(argv: list[str]) -> int:
    check = argv == ["--check"]
    if argv and not check:
        print_plans(argv)
        return 0
    committed = load()
    entries, failed = build(committed)
    problems = {k: f"plan build failed: {why}" for k, why in failed.items()}
    if check:
        for key in sorted((entries.keys() | committed.keys()) - failed.keys()):
            if key not in committed:
                problems[key] = "missing from plan_manifest.json"
            elif key not in entries:
                problems[key] = "extra in plan_manifest.json"
            elif entries[key] != committed[key]:
                problems[key] = f"{committed[key]} -> {entries[key]}"
    for key, why in sorted(problems.items()):
        print(f"{key}: {why}")
    if problems or check:
        print(f"{len(problems)} keys differ from plan_manifest.json or fail to build")
        return 1 if problems else 0
    with open(MANIFEST, "w") as f:
        f.write(dump(entries))
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(plans_md(entries))
    changed = sorted(k for k in entries if entries[k] != committed.get(k))
    print(f"plan_manifest.json: {len(entries)} keys, {len(changed)} changed")
    for key in changed:
        print(f"  {key}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
