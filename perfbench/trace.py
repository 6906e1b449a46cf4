"""Spans, self time, and the Spark status-store readout for traced runs.

A span is ``(name, start, end, parent, run_id)``. Spans are kept in
memory and written out once, when the benchmark ends. A span's self
time is its duration minus the part of its interval that its child
spans cover.

In a traced run every timed call runs under two Spark job groups, one
while the package function builds its plan and one while the action
executes. After each workload iteration (outside its wall clock) the
status stores are read for those groups: ``AppStatusStore`` for
stages, ``SQLAppStatusStore`` for the Python-boundary operator
metrics. Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int
    groups: tuple[str, ...] = ()
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(i, ())
            if min(b, s.end) > max(a, s.start)
        )
        out.append(s.dur - covered)
    return out


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is
    a cheap no-op apart from running the wrapped code, so the same
    workload code serves traced and untraced runs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, (), attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def job_group(self, span: Span | None, phase: str):
        """Tag the Spark jobs launched inside the block with a group
        owned by ``span`` (``phase`` is ``build`` or ``exec``)."""
        if span is None:
            yield
            return
        self._groups += 1
        group = f"perfbench-{self._groups}-{phase}"
        span.groups += (group,)
        self.sc.setJobGroup(group, span.name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        rows = [
            dict(asdict(s), index=i, self_s=selfs[i])
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": extra, "spans": rows}, f, default=str)


# ----------------------------------------------------------------------
# Spark status store readout
# ----------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to run Python workers": "python.stage_run_s",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value: ``"703"``, ``"56.2 KiB"``
    or ``"total (min, med, max ...)\\n15.2 s (...)"`` -> bytes/seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _SIZE_UNITS:
        return value * _SIZE_UNITS[parts[1]]
    if len(parts) > 1 and parts[1] in _TIME_UNITS:
        return value * _TIME_UNITS[parts[1]]
    return value


class SparkReadout:
    """Reads per-job-group stage and SQL metrics from the status stores
    of a live session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_exec = -1

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage(self, sid: int):
        try:
            return self._store.stageAttempt(
                sid, 0, False, self._empty_list, False, self._no_quantiles
            )._1()
        except Exception:  # stage evicted or never submitted
            return None

    def group_metrics(self, groups: tuple[str, ...]) -> dict:
        """Stage totals for the jobs of ``groups``, plus job counts per
        phase (``<phase>_jobs``)."""
        tracker = self.sc.statusTracker()
        out = {
            "jobs.build": 0, "jobs.exec": 0, "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0,
            "one_task_stage_s": 0.0, "intervals": [], "job_ids": set(),
        }
        stage_ids = set()
        for g in groups:
            jobs = list(tracker.getJobIdsForGroup(g))
            out["jobs." + g.rsplit("-", 1)[1]] += len(jobs)
            out["job_ids"].update(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = self._stage(sid)
            if sd is None or sd.status().toString() != "COMPLETE":
                continue
            sub, comp = sd.submissionTime(), sd.completionTime()
            span = 0.0
            if sub.isDefined() and comp.isDefined():
                a, b = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
                out["intervals"].append((a, b))
                span = b - a
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.numTasks() == 1:
                out["one_task_stage_s"] += span
        return out

    def python_metrics(self) -> list[tuple[set, dict]]:
        """Python-boundary SQL metrics of every SQL execution finished
        since the last call, each with the job ids it ran."""
        found = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            jobs = {int(j) for j in _scala_iter(e.jobs().keys())}
            vals = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            totals: dict = {}
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    key = PYTHON_METRICS.get(metric.name())
                    if key is None:
                        continue
                    v = vals.get(metric.accumulatorId())
                    if v.isDefined():
                        totals[key] = totals.get(key, 0.0) + parse_sql_metric(
                            v.get()
                        )
            if totals:
                found.append((jobs, totals))
        return found


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


# ----------------------------------------------------------------------
# Peak RSS of the benchmark's process tree
# ----------------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants: the driver Python process, the
    JVM it launched, and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class PeakRss:
    """Peak resident memory of a process tree, from the kernel's
    per-process high-water mark (``VmHWM``), so no short peak is missed
    between samples. ``reset`` clears the marks (``clear_refs`` 5);
    ``read`` sums them over the tree and keeps the largest sum seen."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.peak = 0

    def reset(self) -> None:
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue

    def read(self) -> int:
        total = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak = max(self.peak, total)
        return total
