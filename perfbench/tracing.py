"""Tracing for the traced run: spans kept in memory, Spark's own
counters read at the end.

Sources, all plain PySpark plus the standard library:

- spans recorded around the benchmark's calls into the package
  (:class:`Tracer`);
- the uncompressed event log, parsed per job group into scheduling,
  executor, data-movement and Python-boundary counts
  (:func:`event_log_layers`);
- ``CodegenMetrics`` through py4j (:class:`Codegen`);
- streaming progress (``durationMs`` phases) from the delivery query's
  ``recentProgress``; the state-store figures of the stream keys come
  from a listener in ``queries.StateListener``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder; thread-safe so the generator thread can
    record its releases next to the main thread's spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, **attrs):
        """A span around the block, child of the thread's open span."""
        stack = self._parents()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def record(self, name: str, start: float, end: float, **attrs) -> Span:
        """Add a finished span (used where start/end are measured
        elsewhere, e.g. a generator release)."""
        with self._lock:
            s = Span(len(self.spans), None, name, start, end, attrs)
            self.spans.append(s)
        return s

    def self_ms(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start - covered) * 1000.0
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_ms()
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                **asdict(s),
                "start": round((s.start - t0) * 1000.0, 3),
                "end": round((s.end - t0) * 1000.0, 3),
                "ms": round(s.ms, 3),
                "self_ms": round(selfs[s.id], 3),
            }
            for s in self.spans
        ]


class Codegen:
    """Whole-stage-codegen compile count and time from the JVM's
    ``CodegenMetrics`` histograms (one sample per compiled class)."""

    def __init__(self, spark) -> None:
        self._hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        snap = self._hist.getSnapshot()
        count = self._hist.getCount()
        if count <= snap.size():
            return count, float(sum(snap.getValues()))
        return count, snap.getMean() * count  # reservoir full: estimate

    @contextmanager
    def delta(self, out: dict):
        c0, ms0 = self.read()
        try:
            yield
        finally:
            c1, ms1 = self.read()
            out["codegen_compiles"] = c1 - c0
            out["codegen_ms"] = ms1 - ms0


TRIGGER_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def trigger_layers(progress: list[dict]) -> dict[str, float]:
    """Median per-trigger ``durationMs`` phases over triggers that read
    data."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {}
    for name, phase in TRIGGER_PHASES.items():
        vals = [p["durationMs"].get(phase, 0) for p in busy]
        out[name] = float(statistics.median(vals)) if vals else 0.0
    return out


PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def new_group() -> dict:
    """Zeroed per-group counters."""
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0.0,
        "executor_cpu_ms": 0.0,
        "gc_ms": 0.0,
        "scan_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "python_bytes_sent": 0,
        "python_bytes_returned": 0,
        "task_skew": 1.0,
    }


def event_log_layers(
    eventlog_dir: str, group_prop: str = "spark.jobGroup.id"
) -> dict[str, dict]:
    """Per value of the job property ``group_prop`` (the job group by
    default, ``None`` for jobs without one): exact job, stage
    and task counts, executor time, bytes moved and the Python-boundary
    SQL metrics, summed from task-end events. ``task_skew`` is the max
    over median task time of the worst stage in the group."""
    files = [
        f for f in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(f)
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, got {files}")
    groups: dict[str | None, dict] = defaultdict(new_group)
    stage_group: dict[int, str | None] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get(group_prop)
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                g = groups[stage_group.get(sid)]
                g["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                g["executor_run_ms"] += run_ms
                g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_SENT:
                        g["python_bytes_sent"] += int(acc.get("Update", 0))
                    elif name == PY_RETURNED:
                        g["python_bytes_returned"] += int(acc.get("Update", 0))
                task_ms[sid].append(run_ms)
    for sid, times in task_ms.items():
        g = groups[stage_group.get(sid)]
        med = statistics.median(times)
        if med > 0:
            g["task_skew"] = max(g["task_skew"], max(times) / med)
    return dict(groups)


def sum_groups(groups: list[dict]) -> dict:
    """Add per-group counters; ``task_skew`` takes the worst group."""
    total = new_group()
    for g in groups:
        for k, v in g.items():
            if k == "task_skew":
                total[k] = max(total[k], v)
            else:
                total[k] += v
    return total


PER_LAYER_UNITS = {
    "session_start_ms": "ms",
    "operators_import_ms": "ms",
    "build_ms": "ms",
    "plan_ms": "ms",
    "execute_ms": "ms",
    "rerun_ms": "ms",
    "fixed_ms": "ms",
    "codegen_compiles": "count",
    "codegen_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "task_skew": "ratio",
    "scan_bytes": "B",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "python_bytes_sent": "B",
    "python_bytes_returned": "B",
    "trigger_ms": "ms",
    "add_batch_ms": "ms",
    "latest_offset_ms": "ms",
    "query_planning_ms": "ms",
    "wal_commit_ms": "ms",
    "commit_offsets_ms": "ms",
    "tri_sink_batch_ms": "ms",
    "batch_records": "count",
    "backlog_files": "count",
    "backlog_records": "count",
    "sink_files": "count",
    "sink_bytes": "B",
    "generator_late_ms": "ms",
    "warmup_ms": "ms",
    "state_rows": "count",
    "state_memory_bytes": "B",
    "state_commit_ms": "ms",
}


def per_layer_metrics(values: dict) -> dict:
    """The per-layer metric set, the same for every workload; a layer a
    workload does not exercise reads 0."""
    return {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER_UNITS.items()}
