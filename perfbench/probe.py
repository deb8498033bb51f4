"""Measurement probes: host noise, process-tree CPU/RSS, Spark counters, spans.

Everything here reads counters from outside the program: ``/proc`` for the
host and the process tree (Python driver, its JVM, and the JVM's Python
workers), and the JVM's scheduler and status store for Spark work.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


# -- host ------------------------------------------------------------------


def host_counters() -> dict[str, float]:
    """Cumulative host CPU steal (s) and CPU pressure ``some`` stall (s)."""
    steal = 0.0
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
        if len(fields) > 8:
            steal = int(fields[8]) / _TICK
    psi = 0.0
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    psi = int(line.rsplit("total=", 1)[1]) / 1e6
    except OSError:
        pass
    return {"steal_s": steal, "cpu_some_s": psi}


def host_delta(before: dict[str, float]) -> dict[str, float]:
    now = host_counters()
    return {k: now[k] - before[k] for k in before}


# -- process tree ----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after ")": state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# -- Spark -----------------------------------------------------------------

STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_ms",
)


class SparkCounters:
    """Exact Spark work counts between two points in time.

    Jobs are counted by the scheduler's job-id counter, not by the status
    store's job list, which keeps only ``spark.ui.retainedJobs`` entries.
    Stage sums include COMPLETE stages only: adaptive execution re-lists
    reused stages as SKIPPED.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty()

    def stage_totals(self, first_job: int, end_job: int, t0_ms, t1_ms):
        """Sum stage metrics over jobs ``[first_job, end_job)``.

        ``driver_ms`` is the call's wall time minus the union of its
        COMPLETE stages' spans, clipped to the call window.
        """
        self.settle()
        store = self._sc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = end_job - first_job
        seen, spans = set(), []
        for jid in range(first_job, end_job):
            ids = store.job(jid).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    spans.append(
                        (
                            max(sub.get().getTime(), t0_ms),
                            min(done.get().getTime(), t1_ms),
                        )
                    )
        covered, end = 0.0, t0_ms
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out["driver_ms"] = max(0.0, (t1_ms - t0_ms) - covered)
        return out


# -- spans -----------------------------------------------------------------


class Tracer:
    """Times named calls; in traced mode also attributes Spark work.

    ``span(layer, name)`` is a context manager. Every span records its wall
    time. When ``traced`` is set, it also records the Spark jobs the call
    ran, and adds the stage sums of its SELF part (its totals minus those
    of the spans nested in it) to its layer, so nested spans never count
    the same job twice. The stage read happens after the span's clock
    stops, so it is not part of the span's time.
    """

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.counters = SparkCounters(spark)
        self.times: dict[str, list[float]] = defaultdict(list)
        self.jobs: dict[str, list[int]] = defaultdict(list)
        self.layers: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(STAGE_FIELDS, 0)
        )
        self._stack: list[_Span] = []

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name
        self.child = dict.fromkeys(STAGE_FIELDS, 0)

    def __enter__(self):
        if self.t.traced:
            self.t.counters.settle()
            self.j0 = self.t.counters.next_job_id()
        self.t._stack.append(self)
        self.wall0 = time.time() * 1000.0
        self.c0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.elapsed = time.perf_counter() - self.c0
        wall1 = time.time() * 1000.0
        self.t._stack.pop()
        if exc_type is not None:
            return False
        self.t.times[self.name].append(self.elapsed)
        if self.t.traced:
            j1 = self.t.counters.next_job_id()
            tot = self.t.counters.stage_totals(self.j0, j1, self.wall0, wall1)
            self.t.jobs[self.name].append(tot["jobs"])
            acc = self.t.layers[self.layer]
            for k, v in tot.items():
                acc[k] += v - self.child[k]
            if self.t._stack:
                parent = self.t._stack[-1].child
                for k, v in tot.items():
                    parent[k] += v
        return False
