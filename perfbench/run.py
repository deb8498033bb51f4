"""Benchmark for the akka_graph_db_spark engine: two closed-loop workloads.

Run from the repository root::

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 10 --trace 0

Workloads (one client, one Python process, ``get_spark(cpus=nproc)``):

- ``batch_analytics``: connected components, link prediction and text
  stats, each through its registered query; outputs checked against that
  query's DuckDB oracle.
- ``mutation_log``: a seeded mutation log folded by ``StreamingGraphFold``
  into the base+delta store, with time-travel lookups and traversals
  through ``GraphDB`` at versions with 1..3 stacked deltas; states checked
  against a pure-Python replay of the log.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it reports the
host noise (CPU steal, CPU pressure) seen during the timed region.
Every run works in its own directory under ``.perfbench_run/`` and removes
it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

import harness
import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("batch_analytics", "mutation_log")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
}

_SPARK_LAYERS = ("scan", "traverse", "fold", "store", "analytics", "functions")
_LAYER_STATS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"),
    ("gc_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("driver_ms", "ms"),
    ("jobs_per_call", "count"),
)
PER_LAYER = {
    "session.start_s": "s",
    "sources.ingest_s": "s",
    "store.save_snapshot_s": "s",
    "store.load_snapshot_ms": "ms",
    "scan.get_node_ms": "ms",
    "traverse.egress_ms": "ms",
    "traverse.ingress_ms": "ms",
    "traverse.p50_ms": "ms",
    "fold.step_ms": "ms",
    "fold.apply_ms": "ms",
    "fold.jobs_per_batch": "count",
    "fold.mutations_per_s": "1/s",
    "store.save_delta_ms": "ms",
    "store.compact_s": "s",
    "store.bytes_written": "bytes",
    "store.log_bytes": "bytes",
    "store.write_amp": "ratio",
    "store.snapshot_bytes": "bytes",
    "store.write_amp_vs_snapshot": "ratio",
    "store.merge_load_ms": "ms",
    "store.deltas_merged": "count",
    "store.merge_read_p50_ms": "ms",
    "analytics.components_s": "s",
    "analytics.link_prediction_s": "s",
    "functions.text_stats_s": "s",
    **{
        f"{layer}.{stat}": unit
        for layer in _SPARK_LAYERS
        for stat, unit in _LAYER_STATS
    },
    "host.steal_s": "s",
    "host.cpu_some_s": "s",
}


def _setup_env(work_dir: str) -> None:
    """Confine every file the run writes to ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    conf = os.path.join(work_dir, "conf")
    os.makedirs(tmp)
    os.makedirs(conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(
            "spark.ui.showConsoleProgress false\n"
            "spark.driver.extraJavaOptions -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}\n"
            f"spark.sql.warehouse.dir {os.path.join(work_dir, 'warehouse')}\n"
        )
    os.environ["SPARK_CONF_DIR"] = conf
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a small heap bounds the JVM's resident set, which keeps peak RSS
    # steady from run to run; the inputs need far less
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended and does not count."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_tree(spark) -> None:
    """Stop Spark, then make sure every process this run started is gone."""
    from pyspark import SparkContext

    pids = [p for p in probe.tree_pids() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        deadline = time.time() + grace
        while time.time() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.05)
        left = [p for p in pids if _alive(p)]
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    for pid in pids:  # reap our own children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def _metrics(ctx, peak_rss_mb, setup_s, host, traced):
    if not traced:
        walls = [w for w, _ in ctx.units]
        vals = {
            "setup_s": setup_s,
            "wall_s": harness.median(walls),
            "cpu_s": harness.median([c for _, c in ctx.units]),
            "peak_rss_mb": peak_rss_mb,
            "ops_per_s": len(ctx.calls) / sum(walls),
        }
        units = END_TO_END
    else:
        vals = dict.fromkeys(PER_LAYER, 0.0)
        vals.update(ctx.layer)
        for layer, tot in ctx.tracer.layers.items():
            for k, v in tot.items():
                if f"{layer}.{k}" in vals:
                    vals[f"{layer}.{k}"] = v
        vals["host.steal_s"] = host["steal_s"]
        vals["host.cpu_some_s"] = host["cpu_some_s"]
        units = PER_LAYER
    unknown = set(vals) - set(units)
    if unknown:
        raise KeyError(f"metrics without a declared unit: {sorted(unknown)}")
    return {
        k: {"value": float(vals[k]), "unit": units[k]} for k in units
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(ROOT, "akka_graph_db_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            "run from the repository root: the akka_graph_db_spark package "
            "and __spark_entry__.py must be in the working directory",
            file=sys.stderr,
        )
        return 2

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    work_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}"
    )
    os.makedirs(work_dir)
    spark = None
    try:
        _setup_env(work_dir)
        import_t0 = time.perf_counter()
        from akka_graph_db_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        spark = get_spark(cpus=cpus)
        start_s = time.perf_counter() - import_t0
        tracer = probe.Tracer(spark, traced=bool(args.trace))
        ctx = harness.Ctx(spark, tracer, args.seed, args.seconds, work_dir)
        ctx.setup["session.start_s"] = start_s
        ctx.layer["session.start_s"] = start_s

        module = __import__(f"wl_{args.workload}")
        module.run(ctx)  # setup, timed loop, output checks
        host = ctx.host
        peak_rss_mb = probe.tree_peak_rss_mb()
        setup_s = sum(ctx.setup.values())
        metrics = _metrics(ctx, peak_rss_mb, setup_s, host, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_tree(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
            parent = os.path.dirname(work_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    for note in ctx.notes:
        print(note, file=sys.stderr)
    ctx.mark("checks+stop")
    print(
        "# phases: "
        + " ".join(
            f"{b[0]}={b[1] - a[1]:.1f}s"
            for a, b in zip(ctx.timeline, ctx.timeline[1:])
        ),
        file=sys.stderr,
    )
    walls = [w for w, _ in ctx.units]
    print(
        f"# host {args.workload} seed={args.seed} trace={args.trace}: "
        f"steal_s={host['steal_s']:.2f} cpu_some_s={host['cpu_some_s']:.2f} "
        f"units={len(ctx.units)} calls={len(ctx.calls)} "
        f"wall_s={harness.median(walls):.3f} "
        f"cpu_s={harness.median([c for _, c in ctx.units]):.3f}"
    )
    print(
        json.dumps(
            {
                "correct": bool(ctx.correct and ctx.failed == 0),
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
