"""What a workload sees: its session, tracer, work directory and clocks."""

from __future__ import annotations

import os
import statistics
import time
import traceback

import probe


class Ctx:
    """What a workload gets: the session, its tracer, inputs and limits."""

    def __init__(self, spark, tracer, seed, seconds, work_dir):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds = seed, seconds
        self.work_dir = work_dir
        self.attempted = self.failed = 0
        self.correct = True
        self.setup = {}  # setup component -> seconds
        self.units = []  # (wall_s, cpu_s) per unit of work
        self.calls = []  # latency (s) of every timed call
        self.layer = {}  # per-layer values the workload computes itself
        self.notes = []
        self.host = None  # host noise over the timed region
        self.timeline = [("start", time.perf_counter())]

    def mark(self, label: str) -> None:
        """Note the end of a phase; the timeline goes to stderr."""
        self.timeline.append((label, time.perf_counter()))

    def start_timed(self) -> None:
        self.mark("setup")
        self._host0 = probe.host_counters()

    def stop_timed(self) -> None:
        self.host = probe.host_delta(self._host0)
        self.mark("timed")

    def unit(self):
        """Context manager timing one unit of work: wall and tree CPU."""
        return _Unit(self)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def call(self, layer: str, name: str, fn, check=None):
        """Time one call, then verify its result outside the timed span.

        A call that raises, or whose result fails ``check``, is failed.
        """
        self.attempted += 1
        try:
            with self.tracer.span(layer, name) as sp:
                out = fn()
        except Exception:
            self.failed += 1
            self.correct = False
            self.notes.append(f"{name} raised:\n{traceback.format_exc()}")
            return None
        self.calls.append(sp.elapsed)
        if check is not None:
            problem = check(out)
            if problem:
                self.failed += 1
                self.correct = False
                self.notes.append(f"{name}: {problem}")
        return out

    def expect(self, ok: bool, what: str) -> None:
        """Record an output check made outside any timed call."""
        if not ok:
            self.correct = False
            self.notes.append(f"check failed: {what}")


class _Unit:
    def __init__(self, ctx):
        self.ctx = ctx

    def __enter__(self):
        self.c0, self.t0 = probe.tree_cpu_s(), time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        wall = time.perf_counter() - self.t0
        self.ctx.units.append((wall, probe.tree_cpu_s() - self.c0))
        return False


def record_ingests(ctx, ingests) -> None:
    """Set-up time and per-layer numbers from repeated ingests.

    ``ingests`` holds one (ingest, save, load) seconds triple per set-up;
    each workload sets up twice, once for its warm-up and once for its
    measured units, and reports the median (here: the mean of the two).
    """
    ingest_s, save_s, load_s = (median(x) for x in zip(*ingests))
    ctx.setup["ingest_s"] = ingest_s + save_s + load_s
    ctx.layer.update(
        {
            "sources.ingest_s": ingest_s,
            "store.save_snapshot_s": save_s,
            "store.load_snapshot_ms": 1000 * load_s,
        }
    )
    ctx.mark("ingest x%d" % len(ingests))


def median(xs):
    return statistics.median(xs) if xs else 0.0
