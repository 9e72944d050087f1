"""Closed-loop benchmark of the query registry and the SCD2 pipeline.

Usage (from the repository root)::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

One driver process, one client, ops run one after another on
``local[<cores>]``. A *pass* is the workload's whole op list; the run
repeats passes while the next one is expected to end within
``--seconds`` (at least one pass). Every pass reads a fresh copy of its
inputs, so session caches (keyed on the input directory) start cold.

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``query_mix``: 13 registry keys, execution-bound operators plus one
  driver-bound pair that shares a session build;
- ``etl_scd2``: daily landing drops through ``pipeline.run_pipeline`` and
  the streaming ingest.

The seed fixes the key order of ``query_mix`` and the generated landing
drops of ``etl_scd2``. Outputs are checked after each pass, outside the
timed region. The last stdout line is one JSON object; with ``--trace 1``
the run also records spans and Spark counters and reports the per-layer
metrics instead of the end-to-end ones. See ``README.md`` beside this
file for the metrics.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

from check import arrow_summary, query_ok, scd2_ok, scd2_summary
from datagen import write_etl_drops, write_tables
from spans import BOOKKEEPING, NullTracer, SparkCounters, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")

#: the query tables are fixed (their expected outputs are committed in
#: expected.json); only the key order follows --seed
TABLE_SF = 0.005
TABLE_SEED = 42

#: a slice of bench.py's pinned canary keys (scan, aggregate, join,
#: window, sort, TPC-H, string functions, pandas UDF, grouped-map UDTF),
#: the Python-bound fn_jaro_winkler, the shuffle-heavy recsys_hit_rate,
#: and the driver-bound PQ pair: sim_topk_pq and sim_topk_ivfpq share one
#: session build of the PQ codebooks, so whichever runs second reuses it
QUERY_MIX = (
    "qc_count_nonempty", "agg_grouped", "join_sortmerge", "win_rank_topn",
    "sort_global", "tpch_q1_pricing_summary", "fn_string",
    "udf_pandas_scalar", "udtf_grouped_map",
    "fn_jaro_winkler", "recsys_hit_rate",
    "sim_topk_pq", "sim_topk_ivfpq",
)
#: etl_scd2 generator arguments
ETL = dict(employees=20_000, days=3, update_rate=0.05, insert_rate=0.02, delete_rate=0.01)

WORKLOADS = ("query_mix", "etl_scd2")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment() -> None:
    """Point the package, Spark, its Python workers and every scratch
    path at the checkout; must run before the package is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def ensure_tables(sf: float, seed: int) -> str:
    """Generate the query tables once per checkout; later runs reuse them."""
    path = os.path.join(WORK, f"tables-sf{sf}-seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        write_tables(tmp, sf, seed)
        os.rename(tmp, path)
    return path


def fresh_copy(src: str, dst: str) -> str:
    """Hard-linked copy of an input directory under a new name."""
    shutil.copytree(src, dst, copy_function=os.link)
    return dst


def start_session():
    from gcp_de_data_pipeline_cc_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    return build_session(app_name="perfbench", extra_conf=conf)


def warm_up(spark) -> None:
    """Run one job that warms the JIT and starts one Python worker per
    core, without touching the registry, so every session cache stays
    cold."""
    n = cores()
    spark.range(0, n * 100, 1, n).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def steal_s() -> float:
    """Seconds the hypervisor has run other guests on this machine's
    CPUs, averaged over the CPUs (0 on dedicated hardware).

    Wall times are reported net of the steal accrued while they ran:
    on a shared host it swings from under 1% to over 20% of CPU time
    within the hour, and its share of a timed region says nothing about
    the program."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants,
    including descendants already reaped."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    members, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in members]
        members.update(kids)
        frontier.extend(kids)
    return sum(cpu.get(p, 0) for p in members) / os.sysconf("SC_CLK_TCK")


class Run:
    """One invocation: the ops of every pass, their latencies, failures
    and (traced) spans and Spark counters."""

    def __init__(self, spark, workload: str, seed: int, trace: bool, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.run_dir = run_dir
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.tracer = Tracer(self.run_id) if trace else NullTracer()
        self.counters = SparkCounters(self.sc) if trace else None
        self.totals: dict[str, float] = {}
        self.op_latencies: list[float] = []
        self.pass_walls: list[float] = []
        self.pass_cpu: list[float] = []
        self.pass_steal: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.stream_batches: list[tuple[float, int]] = []  # (seconds, rows)
        self.written = [0, 0]  # warehouse bytes, files
        self.landing_bytes = 0
        self._group = 0

    # -- tracing helpers -------------------------------------------------
    def add(self, name: str, value: float) -> None:
        self.totals[name] = self.totals.get(name, 0) + value

    def job_group(self, phase: str) -> str | None:
        if self.counters is None:
            return None
        self._group += 1
        group = f"{self.run_id}:{self._group}:{phase}"
        self.sc.setJobGroup(group, phase)
        return group

    def read_counters(self, groups: dict[str, str | None]) -> None:
        """Sum Spark counters of this op's job groups (phase → group)."""
        if self.counters is None:
            return
        with self.tracer.span(BOOKKEEPING):
            for phase, group in groups.items():
                if group is None:
                    continue
                c = self.counters.read(group)
                if phase == "build":
                    self.add("plans.build_jobs", c["jobs"])
                for k, v in c.items():
                    self.add(f"spark.{k}", v)

    # -- passes ----------------------------------------------------------
    def run(self, seconds: float, one_pass) -> None:
        """Repeat passes while the next is expected to end within
        ``seconds``. ``one_pass(n)`` runs the timed ops and returns the
        output check, which runs untimed. Records each pass's wall time
        net of steal, the steal, the CPU time of the process tree (this
        driver, the JVM and its Python workers)."""
        start = time.perf_counter()
        n = 0
        while True:
            cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
            t0 = time.perf_counter()
            check = one_pass(n)
            wall = time.perf_counter() - t0
            steal = steal_s() - steal0
            self.pass_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            self.pass_steal.append(steal)
            self.pass_walls.append(wall - steal)
            self.failed += check()
            n += 1
            if time.perf_counter() - start + wall > seconds:
                break

    def op(self, label: str, fn) -> bool:
        """Time one op; an exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", label):
                fn()
            ok = True
        except Exception as e:  # one failed op must not end the run
            log(f"op failed: {type(e).__name__}: {e}")
            ok = False
        self.op_latencies.append(time.perf_counter() - t0)
        if not ok:
            self.failed += 1
        return ok


def query_pass_fn(run: Run, keys: tuple[str, ...], tables: str, expected: dict):
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    order = list(keys)
    random.Random(run.seed).shuffle(order)

    def one_pass(n: int):
        sf_dir = fresh_copy(tables, os.path.join(run.run_dir, f"pass-{n}"))
        results = {}
        for key in order:
            def op(key=key):
                groups = {"build": run.job_group("build")}
                with run.tracer.span("plans.build"):
                    df = REGISTRY[key].spark(run.spark, sf_dir)
                groups["exec"] = run.job_group("exec")
                with run.tracer.span("exec"):
                    results[key] = df.toArrow()
                run.read_counters(groups)
            run.op(key, op)

        def check() -> int:
            bad = [k for k, t in results.items() if not query_ok(arrow_summary(t), expected[k])]
            for key in bad:
                log(f"check failed: {key}")
            return len(bad)
        return check

    return one_pass


def etl_pass_fn(run: Run, drops: str, want: dict):
    from gcp_de_data_pipeline_cc_spark import pipeline
    from gcp_de_data_pipeline_cc_spark.sources.csv_ingest import EMPLOYEE_COLUMNS
    from gcp_de_data_pipeline_cc_spark.streaming.file_ingest import (
        ingest_available_now,
        landing_stream,
    )

    dates = [dt.date.fromisoformat(d) for d in want["load_dates"]]

    def one_pass(n: int):
        base = os.path.join(run.run_dir, f"pass-{n}")
        landing = os.path.join(base, "landing")
        warehouse = os.path.join(base, "warehouse")
        stream_in = os.path.join(base, "stream_landing")
        stream_out = os.path.join(warehouse, "stream_raw", "Employee_raw")
        checkpoint = os.path.join(base, "stream_checkpoint")
        for d in (landing, stream_in):
            os.makedirs(d)
        ok = []
        for day, load_date in enumerate(dates):
            day_dir = os.path.join(drops, f"day-{day}")
            for f in pipeline.LANDING_FILES:
                shutil.copy(os.path.join(day_dir, f), landing)
            shutil.copy(
                os.path.join(day_dir, "Employee.csv"),
                os.path.join(stream_in, f"Employee-{day}.csv"),
            )
            run.landing_bytes += want["landing_bytes"][day]

            def op():
                group = run.job_group("pipeline")
                with run.tracer.span("pipeline.load"):
                    pipeline.run_pipeline(run.spark, landing, warehouse, load_date)
                with run.tracer.span("streaming.ingest"):
                    q = ingest_available_now(
                        landing_stream(run.spark, stream_in, EMPLOYEE_COLUMNS),
                        stream_out, checkpoint,
                    )
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                if run.counters is not None:
                    with run.tracer.span(BOOKKEEPING):
                        for p in q.recentProgress:
                            if p["numInputRows"] > 0:
                                run.stream_batches.append(
                                    (p["durationMs"]["triggerExecution"] / 1000.0,
                                     p["numInputRows"])
                                )
                    run.read_counters({"pipeline": group, "stream": str(q.runId)})
            ok.append(run.op(load_date.isoformat(), op))
        if run.counters is not None:
            with run.tracer.span(BOOKKEEPING):
                b, f = dir_bytes(stream_out)
            run.written[0] += b
            run.written[1] += f

        def check() -> int:
            """The final SCD2 table and the streamed raw tier cover every
            load, so a mismatch fails each load that did not already fail."""
            got = scd2_summary(run.spark, os.path.join(warehouse, "cur", pipeline.CURATED_TABLE))
            streamed = run.spark.read.parquet(stream_out).count()
            if scd2_ok(got, want) and streamed == sum(want["employee_rows"]):
                return 0
            log(f"check failed: scd2 {got} streamed {streamed}")
            return sum(ok)
        return check

    return one_pass


def instrument_pipeline(run: Run) -> None:
    """Wrap, for the rest of this process, the package functions
    ``pipeline.run_pipeline`` calls in spans."""
    from gcp_de_data_pipeline_cc_spark import pipeline
    from gcp_de_data_pipeline_cc_spark.operators import quality

    def wrap(module, attr, name):
        fn = getattr(module, attr)

        def traced(*a, **k):
            with run.tracer.span(name):
                return fn(*a, **k)
        setattr(module, attr, traced)

    write = pipeline.write_table

    def write_table(df, path, *a, **k):
        name = "operators.scd2.write" if pipeline.CURATED_TABLE in path else "sources.write"
        with run.tracer.span(name):
            write(df, path, *a, **k)
        with run.tracer.span(BOOKKEEPING):
            b, f = dir_bytes(path)
            run.written[0] += b
            run.written[1] += f
    pipeline.write_table = write_table
    wrap(pipeline, "wait_for_files", "pipeline.sensor_wait")
    wrap(pipeline, "_archive", "pipeline.archive")
    for gate in ("non_empty", "unique_key", "referential_integrity", "run_gates"):
        wrap(quality, gate, "operators.quality.gates")


def layer_metrics(run: Run, setup: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of a traced run, each a per-pass figure except
    the session set-up and the latency percentiles."""
    passes = len(run.pass_walls)
    t = run.tracer
    selfs = t.self_times()
    total = lambda name: sum(t.durations(name)) / passes  # noqa: E731
    c = {k: v / passes for k, v in run.totals.items()}
    loads = t.durations("pipeline.load")
    batches = [s for s, _ in run.stream_batches]
    stages = c.get("spark.stages", 0)
    tasks = c.get("spark.numCompleteTasks", 0) + c.get("spark.numFailedTasks", 0)
    run_s = c.get("spark.executorRunTime", 0) / 1e3
    cpu_s = c.get("spark.executorCpuTime", 0) / 1e9
    return {
        "session.start_s": setup["start"],
        "session.warmup_s": setup["warmup"],
        "op.p50_s": statistics.median(run.op_latencies),
        "op.max_s": max(run.op_latencies),
        "plans.build_s": total("plans.build"),
        "plans.build_jobs": c.get("plans.build_jobs", 0),
        "exec.s": total("exec"),
        "exec.jobs": c.get("spark.jobs", 0),
        "exec.stages": stages,
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / stages if stages else 0.0,
        "exec.executor_run_s": run_s,
        "exec.executor_cpu_s": cpu_s,
        "exec.python_gap_s": run_s - cpu_s,
        "exec.gc_s": c.get("spark.jvmGcTime", 0) / 1e3,
        "exec.input_bytes": c.get("spark.inputBytes", 0),
        "exec.shuffle_read_bytes": c.get("spark.shuffleReadBytes", 0),
        "exec.shuffle_write_bytes": c.get("spark.shuffleWriteBytes", 0),
        "exec.spill_bytes": c.get("spark.memoryBytesSpilled", 0) + c.get("spark.diskBytesSpilled", 0),
        "exec.failed_tasks": c.get("spark.numFailedTasks", 0),
        "pipeline.load_p50_s": statistics.median(loads) if loads else 0.0,
        "pipeline.load_max_s": max(loads, default=0.0),
        "pipeline.self_s": selfs.get("pipeline.load", 0.0) / passes,
        "pipeline.sensor_wait_s": total("pipeline.sensor_wait"),
        "pipeline.archive_s": total("pipeline.archive"),
        "sources.write_s": total("sources.write"),
        "sources.bytes_written": run.written[0] / passes,
        "sources.files_written": run.written[1] / passes,
        "operators.quality.gates_s": total("operators.quality.gates"),
        "operators.scd2.write_s": total("operators.scd2.write"),
        "streaming.ingest_s": total("streaming.ingest"),
        "streaming.batches": len(batches) / passes,
        "streaming.batch_p50_s": statistics.median(batches) if batches else 0.0,
        "streaming.batch_max_s": max(batches, default=0.0),
        "streaming.rows_per_s": (
            sum(r for _, r in run.stream_batches) / sum(batches) if batches else 0.0
        ),
        "write_amp": run.written[0] / run.landing_bytes if run.landing_bytes else 0.0,
        "steal_s": statistics.median(run.pass_steal),
        "trace.wall_s": statistics.median(w + s for w, s in zip(run.pass_walls, run.pass_steal)),
        "trace.overhead_s": total(BOOKKEEPING),
        "trace.self_sum_s": sum(v for k, v in selfs.items() if k != BOOKKEEPING) / passes,
    }


def end_to_end_metrics(run: Run, setup: dict[str, float], rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup["start"] + setup["warmup"],
        "wall_s": statistics.median(run.pass_walls),
        "cpu_s": statistics.median(run.pass_cpu),
        "peak_rss_mb": rss_mb,
    }


def result(run: Run, values: dict[str, float], wanted: list[dict]) -> dict:
    """The result line: outcome counts plus each metric ``BENCHMARK.json``
    lists, by name with its unit."""
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_environment()
    import gcp_de_data_pipeline_cc_spark.plans  # noqa: F401  (fail early without the package)

    spec = load_spec()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload == "etl_scd2":
        drops = os.path.join(run_dir, "drops")
        want = write_etl_drops(drops, args.seed, **ETL)
    else:
        tables = ensure_tables(TABLE_SF, TABLE_SEED)
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)[f"sf{TABLE_SF}"]

    t0, s0 = time.perf_counter(), steal_s()
    spark = start_session()
    t1, s1 = time.perf_counter(), steal_s()
    try:
        warm_up(spark)
        t2, s2 = time.perf_counter(), steal_s()
        setup = {"start": (t1 - t0) - (s1 - s0), "warmup": (t2 - t1) - (s2 - s1)}
        run = Run(spark, args.workload, args.seed, bool(args.trace), run_dir)
        if args.workload == "etl_scd2":
            one_pass = etl_pass_fn(run, drops, want)
        else:
            one_pass = query_pass_fn(run, QUERY_MIX, tables, expected)
        if args.trace:
            instrument_pipeline(run)
        run.run(args.seconds, one_pass)
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    rss = jvm_rss + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    if args.trace:
        values = layer_metrics(run, setup)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(WORK, "traces", f"{run.run_id}.jsonl"))
    else:
        values = end_to_end_metrics(run, setup, rss)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(
        f"{args.workload}: {len(run.pass_walls)} pass(es), {run.attempted} ops, "
        f"op_p50_s {statistics.median(run.op_latencies):.3f} s, "
        f"failed_frac {run.failed / run.attempted:.4f}; as measured: "
        f"setup {setup['start'] + setup['warmup']:.3f} s, "
        f"wall {statistics.median(run.pass_walls):.3f} s "
        f"+ steal {statistics.median(run.pass_steal):.3f} s, "
        f"cpu {statistics.median(run.pass_cpu):.3f} s"
    )
    print(json.dumps(result(run, values, spec["per_layer" if args.trace else "end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
