"""Tracing for the benchmark's traced run, and the statistics both runs share.

- `Tracer` records spans around the benchmark's calls into each layer's public
  functions.  A span has a name, a start, an end, a parent and the id of the
  op it belongs to.  Spans stay in memory until the run ends; `self_times`
  computes each span's self time (its duration minus the part covered by
  its children).
- `fold_event_log` folds Spark's event log (written uncompressed: the
  `zstandard` module is not installed) into per-op executor counters, keyed
  on the job group the benchmark sets for each op.
- `ProgressCollector` is a StreamingQueryListener that keeps every
  StreamingQueryProgress as a plain dict.
- `tree_cpu_s` reads the benchmark's process tree's CPU time from /proc.
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
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of process
    `root`, this one by default, and all its descendants: the driver, the
    Spark JVM and its Python workers.  Time the hypervisor steals from the
    host's vCPUs is not in it."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children[pid]
    return total / CLK_TCK


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least `beyond` samples above it, as
    (value, percentile, sample count).  With `beyond` or fewer samples no
    such percentile exists and the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(xs[-1]), 100.0, n
    k = n - beyond - 1  # index with exactly `beyond` samples after it
    return float(xs[k]), 100.0 * (k + 1) / n, n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    thread: int


class Tracer:
    """In-memory span recorder.  Spans nest per thread.  A span opened on
    another thread with no open span of its own (Spark's foreachBatch
    callback thread) gets as parent the innermost span open on the thread
    that created the tracer: the call that caused it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self.op = "setup"

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            cause = stack or self._main_stack
            self.spans.append(
                Span(name, time.perf_counter(), 0.0, cause[-1] if cause else None,
                     self.op, threading.get_ident())
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, name: str, fn):
        """`fn` with every call recorded as a span named `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def totals(self, name: str) -> list[float]:
        """Durations of every span called `name`."""
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark event log

EXEC_COUNTERS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_records",
    "spill_bytes",
)


def event_log_files(log_dir: str) -> list[str]:
    """The rolled event-log files (eventlog_v2_*/events_<n>_*) under
    `log_dir`, in write order."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, task CPU and GC seconds, shuffle bytes
    and records written and bytes spilled (memory + disk).  Jobs without a
    group fold under ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_COUNTERS, 0.0))
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            c = out[stage_group.get(e.get("Stage ID"), "")]
            c["tasks"] += 1
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in out.items()}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from f

    return fold_event_log(lines())


def sum_groups(folded: dict[str, dict[str, float]], groups) -> dict[str, float]:
    out = dict.fromkeys(EXEC_COUNTERS, 0.0)
    for g in groups:
        for k, v in folded.get(g, {}).items():
            out[k] += v
    return out


def spark_layers(folded: dict[str, dict[str, float]], groups, per: float = 1.0) -> dict[str, float]:
    """The event log's named per-layer figures for the ops' job groups,
    divided by `per`: `spark.*` over every group, and `queries.eager_jobs`,
    the jobs launched while a DataFrame was being built (groups named
    '<op>:build')."""
    groups = list(groups)
    ex = sum_groups(folded, groups)
    out = {f"spark.{k}": ex[k] / per for k in EXEC_COUNTERS}
    out["queries.eager_jobs"] = sum_groups(folded, [g for g in groups if g.endswith(":build")])["jobs"] / per
    return out


# ---------------------------------------------------------------------------
# Streaming progress


class ProgressCollector(StreamingQueryListener):
    """Keeps each StreamingQueryProgress as a dict (name, batchId,
    numInputRows, durationMs, stateOperators, ...)."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        p["cpu_s"] = tree_cpu_s()  # the process tree's CPU time when the batch was reported
        with self._lock:
            self.progress.append(p)

    def onQueryTerminated(self, event) -> None:
        pass

    def clear(self) -> None:
        with self._lock:
            self.progress.clear()

    def batches(self, name: str) -> list[dict]:
        with self._lock:
            return sorted(
                (p for p in self.progress if p.get("name") == name),
                key=lambda p: p["batchId"],
            )

    def wait_for(self, name: str, batch_id: int, timeout: float = 30.0) -> None:
        """Progress events arrive on Spark's listener bus after the batch
        ends; wait until `batch_id` of query `name` has been seen."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if any(p["batchId"] >= batch_id for p in self.batches(name)):
                return
            time.sleep(0.05)
        raise TimeoutError(f"no progress for {name} batch {batch_id}")
