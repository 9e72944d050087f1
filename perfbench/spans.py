"""Spans and Spark counters for the traced run.

Spans are kept in memory and written out once at the end of a run. Spark
counters are read from the application's status store after every op,
through the job groups the benchmark sets, because the store keeps only
the last ``spark.ui.retainedJobs``/``retainedStages`` (1000) entries.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: span name for the tracer's own work (status-store reads, file walks);
#: its total is the tracing overhead inside the timed region
BOOKKEEPING = "trace.bookkeeping"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    label: str = ""


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, label: str = ""):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), parent=parent, run_id=self.run_id, label=label)
        )
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part covered by its direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, label: str = ""):
        yield


#: status-store stage fields summed per job group
_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "numCompleteTasks", "numFailedTasks",
)


class SparkCounters:
    """Sums Spark's per-stage metrics over the jobs of one job group."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()

    def read(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(("jobs", "stages", *_STAGE_FIELDS), 0)
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                data = self._store.stageAttempt(
                    stage_id, 0, False, self._empty, False, None
                )._1()
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for name in _STAGE_FIELDS:
                    out[name] += getattr(data, name)()
        return out
