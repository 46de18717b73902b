"""Measurement helpers: percentiles with a sample-count rule, process CPU
and memory from ``/proc``, host state, Spark status-store totals, and an
in-memory span tracer.

Nothing here imports the engine; :class:`Tracer` and
:func:`spark_totals` take the live SparkSession as an argument.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time
from dataclasses import dataclass, field

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values, q: float, groups=None) -> float | None:
    """The ``q``-th percentile (nearest-rank) of ``values``, or ``None``
    when fewer than :data:`MIN_BEYOND` independent samples lie beyond it
    (see :func:`beyond`)."""
    if not values:
        return None
    value, n = _rank(values, q, groups)
    return value if n >= MIN_BEYOND else None


def beyond(values, q: float, groups=None) -> int:
    """How many independent samples lie strictly beyond the ``q``-th
    percentile. ``groups`` names the independent sample each value
    belongs to (e.g. the micro-batch an event landed in); by default
    every value is its own sample."""
    return _rank(values, q, groups)[1] if values else 0


def _rank(values, q, groups):
    order = sorted(range(len(values)), key=values.__getitem__)
    rank = max(1, math.ceil(q / 100 * len(values)))
    value = values[order[rank - 1]]
    above = [i for i in order[rank:] if values[i] > value]
    n = len({groups[i] for i in above}) if groups is not None else len(above)
    return value, n


def median(values) -> float:
    """Plain median for per-layer summaries (no sample-count rule)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


# -- /proc ----------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its descendants — the
    Python driver, the Spark JVM it launched and the JVM's Python
    workers."""
    root = os.getpid() if pid is None else pid
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of live ``pids`` (utime + stime)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK


def rss_mb(pids: list[int]) -> float:
    """Summed resident set size of ``pids`` in MiB."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def host_state() -> dict:
    """nproc, memory, load average and cumulative steal, for the record
    kept beside every result."""
    state: dict = {"nproc": os.cpu_count() or 1}
    with contextlib.suppress(OSError, ValueError, IndexError):
        with open("/proc/meminfo") as fh:
            info = {
                line.split(":")[0]: int(line.split()[1]) for line in fh
            }
        state["mem_total_mb"] = info["MemTotal"] // 1024
        state["mem_available_mb"] = info.get("MemAvailable", 0) // 1024
    with contextlib.suppress(OSError):
        state["loadavg"] = [float(x) for x in os.getloadavg()]
    with contextlib.suppress(OSError, ValueError, IndexError):
        with open("/proc/stat") as fh:
            state["steal_s"] = int(fh.readline().split()[8]) / _CLK
    return state


class Rss:
    """Peak RSS of the process tree, sampled from the benchmark's polling
    loops."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> None:
        self.peak = max(self.peak, rss_mb(process_tree()))


# -- Spark status store ----------------------------------------------------

SPARK_FIELDS = (
    "task_cpu_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "spill_bytes",
    "gc_ms",
    "jobs",
    "tasks",
)


def spark_totals(spark, by_group: bool = False) -> dict:
    """Cumulative task metrics over every stage the status store still
    holds, optionally split by the job group each stage's job ran under
    (spans set the group, so a traced run attributes work to layers)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    stage_group: dict[int, str] = {}
    groups_jobs: dict[str, int] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        g = job.jobGroup()
        group = g.get() if g.isDefined() else ""
        groups_jobs[group] = groups_jobs.get(group, 0) + 1
        sids = job.stageIds().iterator()
        while sids.hasNext():
            stage_group[int(sids.next())] = group
    out: dict[str, dict] = {}
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    seen = set()
    while it.hasNext():
        st = it.next()
        key = (st.stageId(), st.attemptId())
        if key in seen:
            continue
        seen.add(key)
        group = stage_group.get(st.stageId(), "") if by_group else ""
        acc = out.setdefault(group, dict.fromkeys(SPARK_FIELDS, 0))
        acc["task_cpu_s"] += st.executorCpuTime() / 1e9
        acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        acc["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        acc["gc_ms"] += st.jvmGcTime()
        acc["tasks"] += st.numTasks()
    for group, n in groups_jobs.items():
        key = group if by_group else ""
        out.setdefault(key, dict.fromkeys(SPARK_FIELDS, 0))["jobs"] += n
    return out if by_group else out.get("", dict.fromkeys(SPARK_FIELDS, 0))


def diff(after: dict, before: dict) -> dict:
    return {k: after.get(k, 0) - before.get(k, 0) for k in after}


# -- tracing ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans around the benchmark's calls into the engine. When
    disabled, :meth:`span` does nothing, so the untraced run pays no
    job-group or bookkeeping cost. Span nesting is tracked per thread."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, stack: list[int]) -> None:
        """Point the Spark job group of this thread at the innermost
        span, so task metrics attach to the layer that ran them."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if stack:
            sc.setJobGroup(self.spans[stack[-1]].name, f"{self.run_id}:{stack[-1]}")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, spark_group: bool = True, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else None
            self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id, attrs))
        stack.append(idx)
        if spark_group:
            self._set_group(stack)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            stack.pop()
            if spark_group:
                self._set_group(stack)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span observed after the fact (a streaming micro-batch)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, None, self.run_id, attrs))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its direct children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for s in self.spans
        ]
