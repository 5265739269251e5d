"""Per-layer accounting for the graph-session benchmark, read from outside.

Every benchmark op is one call into one layer module, timed on the wall
clock and in CPU seconds of the benchmark's process tree. With tracing on,
``Tracer.call`` tags the call with ``sc.setJobGroup`` and, after it
returns, attributes to it every Spark job submitted while it ran (job
ids above the previous maximum — one client, so nothing else submits;
this also catches jobs from helper threads such as the two BFS arms of
``on_shortest_path``, which do not inherit the group). Job and stage
figures come from the driver's status store (``spark.ui.enabled`` may
be false). With tracing off the call is only timed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

LAYERS = ["builder", "traversal", "filters", "components", "analytics", "properties"]
COUNTERS = ["jobs", "stages", "tasks", "exec_s", "gc_s", "shuffle_mb", "driver_gap_s"]


@dataclass
class Span:
    layer: str
    kind: str
    wall_s: float
    cpu_s: float = 0.0
    ok: bool = True
    counters: dict = field(default_factory=dict)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process and its live
    descendants: the Python client, the driver JVM it launched and any
    Python workers. Time the host steals from the machine is not in it."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12])
    total, todo = 0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total * _TICK_S


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self.new_persisted = 0
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._last_job = -1
        self._n = 0
        if enabled:
            self._last_job = max(self._job_ids(None), default=-1)

    def _job_ids(self, group: str | None) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def _persisted(self) -> set[int]:
        return set(self._sc._jsc.getPersistentRDDs().keySet())

    def call(self, layer: str, kind: str, fn):
        """Run ``fn`` as one call into ``layer``; returns (result, span).
        Exceptions propagate after the span is recorded as failed."""
        if not self.enabled:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            span = Span(layer, kind, 0.0)
            try:
                return fn(), span
            except BaseException:
                span.ok = False
                raise
            finally:
                span.wall_s = time.perf_counter() - t0
                span.cpu_s = tree_cpu_s() - c0
                self.spans.append(span)
        self._n += 1
        group = f"perfbench-{self._n}-{layer}-{kind}"
        b0 = time.perf_counter()
        self._sc.setJobGroup(group, group)
        before = self._persisted()
        self.bookkeeping_s += time.perf_counter() - b0
        span = Span(layer, kind, 0.0)
        c0 = tree_cpu_s()
        e0, t0 = time.time(), time.perf_counter()
        try:
            return fn(), span
        except BaseException:
            span.ok = False
            raise
        finally:
            span.wall_s = time.perf_counter() - t0
            span.cpu_s = tree_cpu_s() - c0
            b0 = time.perf_counter()
            self._account(span, group, e0, e0 + span.wall_s, before)
            self.spans.append(span)
            self.bookkeeping_s += time.perf_counter() - b0

    def _account(self, span: Span, group: str, e0: float, e1: float, before: set) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)
        ids = sorted(
            j for j in set(self._job_ids(group)) | set(self._job_ids(None))
            if j > self._last_job
        )
        if ids:
            self._last_job = ids[-1]
        c = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        for jid in ids:
            job = self._store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None:
                intervals.append((start / 1000.0, (end or start) / 1000.0))
            sids = job.stageIds()
            for i in range(sids.length()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(i))
                except Exception:  # stage never submitted: nothing ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["exec_s"] += st.executorRunTime() / 1000.0
                c["gc_s"] += st.jvmGcTime() / 1000.0
                c["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
        c["jobs"] = len(ids)
        c["driver_gap_s"] = span.wall_s - _covered_s(intervals, e0, e1)
        span.counters = c
        self.new_persisted += len(self._persisted() - before)

    def cached_mb(self) -> float:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
