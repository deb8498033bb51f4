"""batch_analytics: whole-graph analytics and corpus functions.

One unit of work is a pass over three registered queries, each run through
``__spark_entry__.queries()`` so it uses the same parameters as the query
its ``oracle_sql()`` entry checks. The pass is repeated until the run's
time is used, and at least ``MIN_PASSES`` times.

The pass covers a superstep loop over the persisted graph snapshot
(connected components), broadcast-CSR link prediction in ``mapInArrow``
and a corpus aggregation. PageRank, local clustering, MinHash near-dup
dedup, brute-force top-k similarity and BM25 are left out: with them a
run does not fit the time a run of this benchmark may take on a 4-vCPU
host.
"""

from __future__ import annotations

import os
import time

import checks
import datagen
import harness

# registered query -> (layer, span); the per-layer metric is "<span>_s"
CALLS = {
    "connected_components_geo": ("analytics", "analytics.components"),
    "link_prediction_auto": ("analytics", "analytics.link_prediction"),
    "text_stats": ("functions", "functions.text_stats"),
}
SCALE = 1
WARMUP_SEED_OFFSET = 1_000_003
# the first pass over new inputs runs slower than later ones; the median
# of five keeps that pass, and a pass slowed by host noise, out of wall_s
MIN_PASSES = 5


def _ingest(ctx, data_dir: str):
    """Derive the graph from the input tables and persist it as the
    snapshot the registered queries load (columns="all", as they do)."""
    from akka_graph_db_spark import store
    from akka_graph_db_spark.sources.tpch import graph_from_tpch

    import __spark_entry__ as entry

    tr = ctx.tracer
    root = os.path.join(
        os.environ["SPARK_GRAFT_SNAPSHOT_ROOT"], os.path.basename(data_dir)
    )
    with tr.span("sources", "sources.ingest") as a:
        g = graph_from_tpch(ctx.spark, data_dir)
    with tr.span("store", "store.save_snapshot") as b:
        store.save_snapshot(g, root, columns="all")
    with tr.span("store", "store.load_snapshot") as c:
        entry._g(ctx.spark, data_dir)  # loads the snapshot saved above
    return a.elapsed, b.elapsed, c.elapsed


def run(ctx) -> None:
    import __spark_entry__ as entry

    spark, seconds = ctx.spark, ctx.seconds
    queries = {n: entry.queries()[n] for n in CALLS}
    os.environ["SPARK_GRAFT_SNAPSHOT_ROOT"] = ctx.path("snapshots")

    # set up twice: the warm-up pass runs over inputs made from another
    # seed, the measured passes over the seed's own inputs
    warm_dir = datagen.write(
        ctx.path("data_warm"), ctx.seed + WARMUP_SEED_OFFSET, SCALE
    )
    data_dir = datagen.write(ctx.path("data"), ctx.seed, SCALE)
    ingests = [_ingest(ctx, warm_dir)]
    t0 = time.perf_counter()
    for name, fn in queries.items():
        fn(spark, warm_dir).collect()
    ctx.setup["warmup_s"] = time.perf_counter() - t0
    ingests.append(_ingest(ctx, data_dir))
    harness.record_ingests(ctx, ingests)

    want = checks.oracle_rows(
        data_dir, {n: entry.oracle_sql()[n] for n in CALLS}
    )

    def collect(fn):
        df = fn(spark, data_dir)
        return df.columns, df.collect()

    def check_against(name):
        def check(out):
            cols, rows = out
            return checks.diff(checks.normalize(rows, cols), want[name])

        return check

    ctx.start_timed()
    t_end = time.perf_counter() + seconds
    while len(ctx.units) < MIN_PASSES or time.perf_counter() < t_end:
        with ctx.unit():
            for name, (layer, span) in CALLS.items():
                ctx.call(
                    layer,
                    span,
                    lambda fn=queries[name]: collect(fn),
                    check_against(name),
                )
    ctx.stop_timed()

    tr = ctx.tracer
    for layer, span in CALLS.values():
        ctx.layer[f"{span}_s"] = harness.median(tr.times[span])
    for layer in ("analytics", "functions"):
        spans = [s for l, s in CALLS.values() if l == layer]
        if all(tr.jobs.get(s) for s in spans):
            # first pass only: the count must repeat exactly for a seed
            ctx.layer[f"{layer}.jobs_per_call"] = sum(
                tr.jobs[s][0] for s in spans
            ) / len(spans)
