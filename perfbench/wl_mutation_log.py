"""mutation_log: a seeded mutation log folded into the base+delta store.

Set-up writes a base snapshot of the seeded graph into the store, and
``StreamingGraphFold(store_root=..., store_every=1, compact_every=4)``
resumes from it. One unit of work is one compaction cycle: four log files
(one micro-batch each, read with ``maxFilesPerTrigger=1`` in pinned-mtime
order) folded and persisted as four deltas, then re-based, followed by
time-travel reads through ``GraphDB`` at the versions with 1..3 stacked
deltas: at each, a point lookup and the out-edges (1 and 3 deltas) or
in-edges (2 deltas) of a 10-node frontier, each merged on read. Cycles
repeat until the run's time is used (at least once). The
warm-up folds a short cycle of a log made from another seed into a copy of
the base. The final state and every time-travel read are checked against a
pure-Python replay of the log.
"""

from __future__ import annotations

import json
import os
import random
import time

import harness

SCALE = 1
COMMANDS_PER_FILE = 500
WARMUP_COMMANDS_PER_FILE = 50
FILES_PER_CYCLE = 4  # = compact_every, so a unit is one whole cycle
WARMUP_FILES = 1  # the warm-up store compacts after every delta
FRONTIER = 10
WARMUP_SEED_OFFSET = 1_000_003
NEW_NODE_BASE = 10_000_000_000
NEW_EDGE_BASE = 20_000_000_000
MTIME0 = 1_700_000_000
COLS = ("seq", "op", "kind", "id", "label", "src", "dst", "props")


class Replay:
    """The graph as plain dicts, and the log generator that mutates it.

    ``nodes``: id -> (label, props); ``edges``: id -> (label, src, dst,
    props); props map keys to JSON fragments, as the store keeps them.
    """

    def __init__(self, nodes, edges):
        self.nodes, self.edges = nodes, edges
        self.seq = 0
        self.next_node = NEW_NODE_BASE
        self.next_edge = NEW_EDGE_BASE

    def snapshot(self):
        return dict(self.nodes), dict(self.edges)

    def make_file(self, rng: random.Random, n: int):
        """Draw one log file of ``n`` commands, grouped into (op, kind)
        runs, and apply them. Returns the command rows in log order."""
        counts = {
            ("add", "node"): int(n * 0.40),
            ("add", "edge"): int(n * 0.30),
            ("update", "node"): int(n * 0.25),
            ("remove", "node"): int(n * 0.05),
        }
        rows = []
        for (op, kind), k in counts.items():
            for _ in range(k):
                self.seq += 1
                rows.append(self._command(rng, op, kind))
        return rows

    def _command(self, rng, op, kind):
        row = dict.fromkeys(COLS)
        row.update(seq=self.seq, op=op, kind=kind)
        if op == "add" and kind == "node":
            nid, self.next_node = self.next_node, self.next_node + 1
            props = {"v": str(rng.randrange(1000)), "tag": json.dumps("n")}
            row.update(id=nid, label="item", props=props)
            self.nodes[nid] = ("item", props)
        elif op == "add" and kind == "edge":
            eid, self.next_edge = self.next_edge, self.next_edge + 1
            ids = self._ids(self.nodes)
            src, dst = rng.choice(ids), rng.choice(ids)
            props = {"w": str(rng.randrange(1000))}
            row.update(id=eid, label="links", src=src, dst=dst, props=props)
            self.edges[eid] = ("links", src, dst, props)
        elif op == "update":
            table = self.nodes if kind == "node" else self.edges
            tid = rng.choice(self._ids(table))
            changes = {"v": str(rng.randrange(1000))}
            if rng.random() < 0.3:
                changes["tag"] = "null"  # a JSON null deletes the key
            row.update(id=tid, props=changes)
            *head, props = table[tid]
            merged = {**props, **changes}
            merged = {k: v for k, v in merged.items() if v != "null"}
            table[tid] = (*head, merged)
        else:
            nid = rng.choice(self._ids(self.nodes))
            row.update(id=nid)
            del self.nodes[nid]
            for eid in [
                e for e, (_, s, d, _) in self.edges.items() if nid in (s, d)
            ]:
                del self.edges[eid]
        return row

    def _ids(self, table):
        # sorted view, cached until the table's size changes
        key = (id(table), len(table))
        if getattr(self, "_key", None) != key:
            self._key, self._sorted = key, sorted(table)
        return self._sorted


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


def _node_state(row):
    return None if row is None else (row["label"], dict(row["props"]))


def _reads(state, v):
    """Seeded time-travel reads at version ``v`` and their answers: one
    node, and the out- and in-edges of a frontier of ``FRONTIER`` nodes."""
    nodes, edges = state
    ids = random.Random(v).sample(sorted(nodes), FRONTIER)
    idset = set(ids)
    out = sorted(e for e, (_, s, _, _) in edges.items() if s in idset)
    into = sorted(e for e, (_, _, d, _) in edges.items() if d in idset)
    return v, ids[0], nodes[ids[0]], ids, out, into


def _expect(want, what):
    def check(got):
        if got != want:
            return f"{what}: {got}, want {want}"

    return check


class Feed:
    """One fold over one store, fed whole compaction cycles of log files.

    ``states`` maps each delta version to the replay's state after it.
    """

    def __init__(self, ctx, name, root, graph, replay, files_per_cycle):
        from akka_graph_db_spark.streaming import fold as fold_mod

        self.spark, self.root, self.replay = ctx.spark, root, replay
        self.cycle = files_per_cycle
        self.fold = fold_mod.StreamingGraphFold(
            graph, store_root=root, store_every=1, compact_every=self.cycle
        )
        self.schema = fold_mod.MUTATION_SCHEMA
        self.log_dir = ctx.path(f"log_{name}")
        self.ckpt = ctx.path(f"checkpoint_{name}")
        os.makedirs(self.log_dir)
        self.states = {}
        self.n_files = 0

    def base_version(self) -> int:
        """Base version of the cycle whose files were written last."""
        return (self.cycle + 1) * ((self.n_files - 1) // self.cycle)

    def write_cycle(self, rng, n_cmds):
        """Write one cycle's log files; returns their bytes and commands."""
        nbytes = ncmds = 0
        for _ in range(self.cycle):
            k = self.n_files
            rows = self.replay.make_file(rng, n_cmds)
            path = os.path.join(self.log_dir, f"{k:05d}.json")
            with open(path, "w") as fh:
                for row in rows:
                    fh.write(json.dumps(row) + "\n")
            # the file source takes files in modification-time order
            os.utime(path, (MTIME0 + 60 * k,) * 2)
            # file k lands as delta k + 1 + k // cycle: every cycle ends
            # with a compaction, which takes a version of its own
            self.states[k + 1 + k // self.cycle] = self.replay.snapshot()
            self.n_files += 1
            nbytes += os.path.getsize(path)
            ncmds += len(rows)
        return nbytes, ncmds

    def fold_cycle(self) -> None:
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .json(self.log_dir)
        )
        self.fold.run(stream, self.ckpt)


def run(ctx) -> None:
    from akka_graph_db_spark import store
    from akka_graph_db_spark.api import GraphDB
    from akka_graph_db_spark.sources.tpch import graph_from_tpch
    from akka_graph_db_spark.streaming import fold as fold_mod

    import datagen

    spark, tr = ctx.spark, ctx.tracer
    data_dir = datagen.write(ctx.path("data"), ctx.seed, SCALE)

    # set up twice: one base store for the warm-up, one for the units
    ingests, roots = [], [ctx.path("store_warm"), ctx.path("store")]
    for root in roots:
        with tr.span("sources", "sources.ingest") as a:
            g = graph_from_tpch(spark, data_dir, promote=False)
        with tr.span("store", "store.save_snapshot") as b:
            store.save_snapshot(g, root)
        with tr.span("store", "store.load_snapshot") as c:
            g = store.load_snapshot(spark, root)
        ingests.append((a.elapsed, b.elapsed, c.elapsed))
    harness.record_ingests(ctx, ingests)
    warm_root, root = roots
    snapshot_bytes = _dir_bytes(root)
    ctx.layer["store.snapshot_bytes"] = snapshot_bytes
    base_nodes = {r["id"]: (r["label"], dict(r["props"])) for r in g.nodes.collect()}
    base_edges = {
        r["id"]: (r["label"], r["src"], r["dst"], dict(r["props"]))
        for r in g.edges.collect()
    }

    # warm-up: a short cycle (one delta and a compaction) of a log made
    # from another seed, folded into the warm-up store
    t0 = time.perf_counter()
    warm = Feed(
        ctx, "warm", warm_root, store.load_snapshot(spark, warm_root),
        Replay(dict(base_nodes), dict(base_edges)), WARMUP_FILES,
    )
    warm.write_cycle(
        random.Random(ctx.seed + WARMUP_SEED_OFFSET), WARMUP_COMMANDS_PER_FILE
    )
    warm.fold_cycle()
    warm_db = GraphDB(store.load_snapshot(spark, warm_root, version=1))
    warm_db.get_node(0)
    warm_db.get_egress_edges([0, 1]).select("id").collect()
    warm_db.get_ingress_edges([0, 1]).select("id").collect()
    ctx.setup["warmup_s"] = time.perf_counter() - t0

    feed = Feed(
        ctx, "main", root, g, Replay(base_nodes, base_edges), FILES_PER_CYCLE
    )
    step = feed.fold.step

    def traced_step(batch, batch_id):
        with tr.span("fold", "fold.step"):
            step(batch, batch_id)

    feed.fold.step = traced_step
    # traced runs only: split the fold step into its parts
    undo = [
        _wrap(tr, module, attr, layer, span)
        for module, attr, layer, span in (
            (fold_mod, "apply_mutation_batch", "fold", "fold.apply"),
            (store, "save_delta", "store", "store.save_delta"),
            (store, "compact", "store", "store.compact"),
        )
        if tr.traced
    ]

    def at(v):
        """The graph as of version ``v``, merged on read."""
        with tr.span("store", "store.merge_load"):
            return GraphDB(store.load_snapshot(spark, root, version=v))

    def edge_ids(df):
        return sorted(r["id"] for r in df.select("id").collect())

    rng = random.Random(ctx.seed)
    first = None
    mutation_rates, deltas_merged = [], []
    ctx.start_timed()
    t_end = time.perf_counter() + ctx.seconds
    while not ctx.units or time.perf_counter() < t_end:
        log_bytes, n_cmds = feed.write_cycle(rng, COMMANDS_PER_FILE)
        base_v = feed.base_version()
        reads = [_reads(feed.states[base_v + k], base_v + k) for k in
                 range(1, FILES_PER_CYCLE)]
        before = _dir_bytes(root)
        steps0 = len(tr.times["fold.step"])
        with ctx.unit():
            t_fold = time.perf_counter()
            feed.fold_cycle()
            fold_s = time.perf_counter() - t_fold
            # time travel: versions with 1..3 deltas stacked on the base
            for k, (v, nid, node, ids, out, into) in enumerate(reads, 1):
                ctx.call(
                    "scan", "scan.get_node",
                    lambda v=v, nid=nid: _node_state(at(v).get_node(nid)),
                    _expect(node, f"get_node({nid}) at v={v}"),
                )
                if k % 2:
                    ctx.call(
                        "traverse", "traverse.egress",
                        lambda v=v, ids=ids: edge_ids(
                            at(v).get_egress_edges(ids)
                        ),
                        _expect(out, f"egress of {len(ids)} nodes at v={v}"),
                    )
                else:
                    ctx.call(
                        "traverse", "traverse.ingress",
                        lambda v=v, ids=ids: edge_ids(
                            at(v).get_ingress_edges(ids)
                        ),
                        _expect(into, f"ingress of {len(ids)} nodes at v={v}"),
                    )
                deltas_merged.append(k)
        written = _dir_bytes(root) - before  # time-travel reads write nothing
        steps = tr.times["fold.step"][steps0:]
        ctx.calls.extend(steps)
        ctx.attempted += len(steps)
        ctx.expect(
            len(steps) == FILES_PER_CYCLE,
            f"{len(steps)} micro-batches folded, want {FILES_PER_CYCLE}",
        )
        mutation_rates.append(n_cmds / fold_s)
        if first is None:
            first = (log_bytes, written, steps0)
    ctx.stop_timed()
    for restore in undo:
        restore()

    # final state against the replay
    kinds = store.list_version_kinds(root, spark)
    ctx.expect(
        kinds[-1] == (feed.base_version() + FILES_PER_CYCLE + 1, "base"),
        f"store ends at {kinds[-1]}",
    )
    final = store.load_snapshot(spark, root)
    got_nodes = {r["id"]: (r["label"], dict(r["props"])) for r in final.nodes.collect()}
    got_edges = {
        r["id"]: (r["label"], r["src"], r["dst"], dict(r["props"]))
        for r in final.edges.collect()
    }
    ctx.expect(got_nodes == feed.replay.nodes, "final nodes match the replay")
    ctx.expect(got_edges == feed.replay.edges, "final edges match the replay")

    log_bytes, written, steps0 = first
    merge_reads = tr.times["scan.get_node"]
    walks = tr.times["traverse.egress"] + tr.times["traverse.ingress"]
    ctx.layer.update(
        {
            "fold.mutations_per_s": harness.median(mutation_rates),
            "fold.step_ms": 1000 * harness.median(tr.times["fold.step"]),
            "store.bytes_written": written,
            "store.log_bytes": log_bytes,
            "store.write_amp": written / log_bytes,
            "store.write_amp_vs_snapshot": written / snapshot_bytes,
            "store.merge_load_ms": 1000
            * harness.median(tr.times["store.merge_load"]),
            "store.merge_read_p50_ms": 1000 * harness.median(merge_reads),
            "store.deltas_merged": harness.median(deltas_merged),
            "scan.get_node_ms": 1000 * harness.median(merge_reads),
            "traverse.egress_ms": 1000
            * harness.median(tr.times["traverse.egress"]),
            "traverse.ingress_ms": 1000
            * harness.median(tr.times["traverse.ingress"]),
            "traverse.p50_ms": 1000 * harness.median(walks),
        }
    )
    if tr.traced:
        # exact counts come from the first cycle, which a seed fixes
        n = FILES_PER_CYCLE - 1  # time-travel versions read per cycle
        walked = tr.jobs["traverse.egress"][:2] + tr.jobs["traverse.ingress"][:1]
        per_batch = tr.jobs["fold.step"][steps0 : steps0 + FILES_PER_CYCLE]
        store_jobs = tr.jobs["store.save_delta"][:FILES_PER_CYCLE] + tr.jobs[
            "store.compact"
        ][:1]
        ctx.layer.update(
            {
                "fold.apply_ms": 1000 * harness.median(tr.times["fold.apply"]),
                "store.save_delta_ms": 1000
                * harness.median(tr.times["store.save_delta"]),
                "store.compact_s": harness.median(tr.times["store.compact"]),
                "fold.jobs_per_batch": sum(per_batch) / len(per_batch),
                "fold.jobs_per_call": sum(per_batch) / len(per_batch),
                "store.jobs_per_call": sum(store_jobs) / len(store_jobs),
                "scan.jobs_per_call": sum(tr.jobs["scan.get_node"][:n]) / n,
                "traverse.jobs_per_call": sum(walked) / len(walked),
            }
        )


def _wrap(tr, module, attr, layer, span):
    """Replace ``module.attr`` with a version timed by ``tr``; returns the
    function that puts the original back."""
    fn = getattr(module, attr)

    def timed(*args, **kwargs):
        with tr.span(layer, span):
            return fn(*args, **kwargs)

    setattr(module, attr, timed)
    return lambda: setattr(module, attr, fn)
