#!/usr/bin/env python
"""Capture .explain('formatted') for declared queries into plans/<dir>/.

Usage:
    SUFFIX=_before python tools/explain_query.py <outdir> <query> [...]

Writes <outdir>/<query>$SUFFIX.txt for each query. Queries whose
builders run internal actions (iterative operators) execute those while
the frame is constructed; the captured plan is the final returned frame's
physical plan — the same artifact PLANS.md audits, kept verbatim here so
plan-shape claims (join strategy, exchange count, pushed filters) are
checkable without running Spark.

Each dump also carries a "# jobs during build: N" header (VERDICT r12
#3): streaming queries run their staging + drain jobs while the builder
constructs the frame, and their returned batch frame's .explain is just
a LocalTableScan — the job count is the evidence a band move can cite
when the plan text cannot change.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir, names = sys.argv[1], sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)

    from akka_graph_db_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="explain", cpus=32, shuffle_partitions=32)
    qs = entry.queries()

    def _next_job_id() -> int:
        """The scheduler's next job id: a delta counts every job submitted
        in between, streaming micro-batch jobs on stream-execution threads
        included. Not the status store's job list, which keeps only
        ``spark.ui.retainedJobs`` entries and lags the listener bus."""
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for name in names:
        before = _next_job_id()
        df = qs[name](spark, SF_DIR)
        n_jobs = _next_job_id() - before
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(
            outdir, f"{name}{os.environ.get('SUFFIX', '')}.txt"
        )
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {SF_DIR}\n")
            fh.write(f"# jobs during build: {n_jobs}\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
