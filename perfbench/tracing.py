"""Per-layer instruments for the traced run.

Everything here observes the program from outside ``xboard_spark/``:

- ``Tracer`` records spans that the workloads open around each call into a
  module of the library (``session``, ``io``, ``operators``, ``sources``,
  ``ingest``, ``streaming``) and around Spark's own execution (``spark``).
  Spans stay in memory and are written out once, when the run ends.
- ``SparkProbe`` reads Spark's counters through py4j: the planning tracker
  of each collected query, jobs/stages/tasks per job group from the status
  tracker, codegen and file-listing counters.
- ``read_event_log`` aggregates task metrics from Spark's event log, which
  only the traced run enables.
- ``cache_snapshot`` / ``cache_events`` infer cache hits, misses and
  evictions from the ``len()`` and ``evictions`` of a ``BoundedFrameCache``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import Counter, defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    """Spans as ``[name, start, end, parent_index, op_id]`` lists, plus
    named counters. Disabled, ``span`` returns a shared null context and
    ``count`` returns at once, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # tracer's own cost inside the window

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time the probe's own work, to report the tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t

    def count(self, name: str, n: float = 1) -> None:
        """Add to a counter; only operations of the measured window count."""
        if self.enabled and self.op is not None:
            self.counts[name] += n

    def total(self, name: str) -> float:
        """Summed duration of the window's spans called ``name``."""
        return sum(s[2] - s[1] for s in self.spans if s[0] == name and s[4] is not None)

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time per layer over the measured window: each span's
        duration minus the part its child spans cover, summed by layer
        (the span name up to the first dot)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[4] is not None:
                out[s[0].split(".")[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent, "op": op}) + "\n")


class SparkProbe:
    """Spark's own counters, read through py4j around each operation."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._catalog_metrics = jvm.org.apache.spark.metrics.source.HiveCatalogMetrics

    def counters(self) -> dict[str, float]:
        return {
            "codegen_ns": self._codegen.compileTime(),
            "codegen_compiles": self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            "files_discovered": self._catalog_metrics.METRIC_FILES_DISCOVERED().getCount(),
        }

    def phases_ms(self, df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s query execution. Read with
        ``apply``: ``get`` returns a Scala ``Option`` py4j cannot unwrap."""
        phases = df._jdf.queryExecution().tracker().phases()
        return {p: phases.apply(p).durationMs() for p in self.PHASES if phases.contains(p)}

    def group_shape(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) launched under job group ``group``."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numTasks:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks


def read_event_log(log_dir: str, app_id: str, groups: set[str]) -> dict[str, float]:
    """Task totals from Spark's JSON event log for jobs in ``groups``:
    executor CPU and GC seconds, shuffle bytes, spill bytes, and the mean
    over multi-task stages of max task time / median task time."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    stage_group: dict[int, str] = {}
    totals = Counter()
    durations: dict[int, list[int]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if stage_group.get(sid) not in groups:
                    continue
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                durations[sid].append(info["Finish Time"] - info["Launch Time"])
                totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                totals["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                totals["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ratios = [
        max(d) / max(statistics.median(d), 1)
        for d in durations.values()
        if len(d) >= 2
    ]
    totals["task_max_over_median"] = statistics.mean(ratios) if ratios else 1.0
    return dict(totals)


def cache_snapshot(caches: dict[str, object]) -> dict[str, tuple[int, int]]:
    return {name: (len(c), c.evictions) for name, c in caches.items()}


def cache_events(
    before: dict[str, tuple[int, int]],
    after: dict[str, tuple[int, int]],
    consulted: list[str],
) -> dict[str, int]:
    """Infer one operation's cache events from two snapshots.

    A ``BoundedFrameCache`` insert either grows ``len`` by one or, when the
    cache is full, keeps ``len`` and bumps ``evictions``; a hit changes
    neither. So per cache, inserts = growth + new evictions. ``consulted``
    names the caches the operation looks up, in lookup order; a consulted
    cache with no insert was a hit."""
    ev = Counter()
    for name in after:
        (n0, e0), (n1, e1) = before[name], after[name]
        inserts = (n1 - n0) + (e1 - e0)
        ev["inserts"] += inserts
        ev["evictions"] += e1 - e0
        if name in consulted:
            ev["misses" if inserts > 0 else "hits"] += 1
    return dict(ev)
