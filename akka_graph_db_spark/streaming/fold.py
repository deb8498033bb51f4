"""Mutation-log stream → graph-snapshot fold (SURVEY.md §2.6).

The reference's concurrency surface is an actor mailbox: mutation command
messages (`NodeCreator`/`NodeUpdater`, `MainActor.scala:6-8`) submitted
fire-and-forget and applied asynchronously (`MainActor.scala:20-29`; the
worker actors were never implemented). The Spark-native equivalent is a
mutation LOG consumed by Structured Streaming: ``readStream`` over the log,
``foreachBatch`` folding each micro-batch into the next copy-on-write
snapshot with the batch CRUD semantics — same async-submission semantics,
but with exactly-once micro-batch boundaries instead of per-message
interleaving.

Log schema (one row per command)::

    seq BIGINT          -- total order within and across batches
    op STRING           -- add | update | remove
    kind STRING         -- node | edge
    id BIGINT
    label STRING        -- add only
    src BIGINT, dst BIGINT  -- edge add only
    props MAP<STRING,STRING>  -- JSON fragments; "null" value deletes key

Within a micro-batch each touched id folds its own commands in ``seq``
order, so any interleaving (add→remove→add of one id, ops alternating on
every command) lands as a sequential replay would, in one plan. A durable
fold (``store_root``) folds a batch into only the pre-image slice it
touches, so fold, diff and write cover O(changes) rows, and each persist
moves it onto file-backed scans; an in-memory fold runs on the whole
snapshot and truncates its lineage every ``checkpoint_every`` batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.model import (
    EDGE_CORE_COLS,
    NODE_CORE_COLS,
    PropertyGraph,
)
from akka_graph_db_spark.operators import crud
from akka_graph_db_spark.streaming import drain

MUTATION_SCHEMA = (
    "seq bigint, op string, kind string, id bigint, label string, "
    "src bigint, dst bigint, props map<string,string>"
)


def apply_mutation_batch(g: PropertyGraph, batch: DataFrame) -> PropertyGraph:
    """Fold one (micro-)batch of mutation commands into a new snapshot as
    one lazy plan (no Spark job runs until the result is used).

    Each touched (kind, id) folds its commands in ``seq`` order over its
    pre-image row: add sets the row (replacing a live one), ``added`` and,
    if the id was dead, ``born``; update merges into a live row; remove
    clears ``live``. An edge survives iff each endpoint the batch touches
    is live at the end and born before the edge's last add (pre-image
    edges: before every command). As live over [add, end] ⇔ live at the
    end and born before add, two equi-joins apply MATCH-first at each add
    (a failed add leaves the id absent) and the DETACH cascade of removes.
    """
    # label, src, dst, props; src and dst stay null on nodes
    cols = EDGE_CORE_COLS[1:]
    pre = g.nodes.select(*NODE_CORE_COLS, F.lit("node").alias("kind"))
    pre_edges = g.edges.select(*EDGE_CORE_COLS, F.lit("edge").alias("kind"))
    pre = pre.unionByName(pre_edges, allowMissingColumns=True)
    # an edge add touches its endpoints: their rows answer MATCH-first
    ends = batch.where("kind = 'edge' AND op = 'add'").select(
        F.lit("node").alias("kind"),
        F.explode(F.array("src", "dst")).alias("id"),
    )
    cmds = batch.unionByName(ends, allowMissingColumns=True)
    # one id set for every pre-image semi- and anti-join, so they share one
    # broadcast; an id of the other kind only passes its pre-image row
    # through the fold unchanged
    ids = cmds.select("id")
    cmd = F.when(F.col("op").isNotNull(), F.struct("seq", "op", *cols))
    rows = (
        pre.join(ids, "id", "left_semi")
        .select("kind", "id", F.struct(*cols).alias("_pre"))
        .unionByName(cmds.select("kind", "id", cmd.alias("_cmd")), True)
    )
    by_seq = F.array_sort(
        F.collect_list("_cmd"),
        # explicit comparator: structs holding maps have no default ordering
        lambda l, r: F.when(l["seq"] < r["seq"], -1)
        .when(l["seq"] > r["seq"], 1)
        .otherwise(0),
    )
    unset = F.lit(None).cast("bigint")
    pre_row = F.first("_pre", ignorenulls=True)
    init = F.struct(
        pre_row.isNotNull().alias("live"),
        *[pre_row[c].alias(c) for c in cols],
        *[unset.alias(c) for c in ("born", "added")],
    )

    def apply(s, c):
        add, live = c["op"] == "add", s["live"]
        kept = {k: s[k] for k in cols}
        kept["props"] = F.when(
            live & (c["op"] == "update"),
            crud._merge_props(s["props"], c["props"]),
        ).otherwise(s["props"])
        return F.struct(
            (add | (live & (c["op"] != "remove"))).alias("live"),
            *[F.when(add, c[k]).otherwise(kept[k]).alias(k) for k in cols],
            F.when(add & ~live, c["seq"]).otherwise(s["born"]).alias("born"),
            F.when(add, c["seq"]).otherwise(s["added"]).alias("added"),
        )

    folded = rows.groupBy("kind", "id").agg(
        F.aggregate(by_seq, init, apply).alias("_s")
    )
    alive = folded.where("_s.live").select("kind", "id", "_s.*")
    after = pre.join(ids, "id", "left_anti").unionByName(alive, True)
    ends_at = folded.where("kind = 'node'").selectExpr(
        "id _nid", "_s.live _live", "_s.born _born"
    )
    keep = "_nid IS NULL OR _live AND (_born IS NULL OR _born < added)"
    edges = after.where("kind = 'edge'")
    for end in ("src", "dst"):
        edges = (
            edges.join(ends_at, F.col(end) == F.col("_nid"), "left")
            .where(keep)
            .drop("_nid", "_live", "_born")
        )
    nodes = after.where("kind = 'node'").select(*NODE_CORE_COLS)
    return PropertyGraph(nodes, edges.select(*EDGE_CORE_COLS))


@dataclass
class StreamingGraphFold:
    """Holds the evolving snapshot across micro-batches; attach `step` to
    ``writeStream.foreachBatch``.

    Every step first materializes the BATCH (localCheckpoint): a
    foreachBatch DataFrame is only valid inside its callback, so deferring
    evaluation would re-read expired micro-batches (fine for file
    sources, wrong or crashing for Kafka/rate).

    In memory (``store_root=None``) each batch folds into the whole
    snapshot, which stays a lazy fold plan over (previous state,
    checkpointed batch); ``checkpoint_every`` truncates that stacked
    lineage on a cadence.

    ``store_root`` makes the fold DURABLE: every ``store_every`` batches
    it persists to the base+delta snapshot store, and after
    ``compact_every`` stacked deltas the chain is re-based. Once the store
    holds a version, a batch no longer folds into the whole graph but into
    its PRE-IMAGE SLICE: the rows of the store's latest file-backed view
    for its own node and edge ids, its added edges' endpoints, and the
    edges incident to its removed nodes. The step checkpoints that slice
    as ``pre`` and folds the batch into it as ``post``. The persist writes
    ``delta_from_graphs(pre, post)`` — an O(changes) diff and write —
    and moves the fold onto the store's new latest version. Within a
    ``store_every`` window both slices grow: ids first touched later come
    from the persisted view into both, and ``graph`` is that view minus
    the ids of ``pre``, plus ``post``.

    The first persist to an empty store writes the whole graph as the
    base. A fold resumed on ``store.load_snapshot(root)`` (same plan as
    the store's latest version) slices from its first batch; one started
    on any other graph folds its first window into the whole graph and
    diffs it against the store once, so that gap lands in the first delta.
    """

    graph: PropertyGraph
    batches_applied: int = field(default=0)
    store_root: str | None = None
    store_every: int = 1
    compact_every: int | None = None
    # Whole-snapshot localCheckpoint cadence for IN-MEMORY folds; 0/None
    # disables it (the fold plan then stacks one layer per batch). Durable
    # folds ignore it: each persist moves them onto file-backed scans.
    checkpoint_every: int | None = 4
    # the store's latest version; None until the fold can slice from it
    _persisted: PropertyGraph | None = field(default=None, repr=False)
    _deltas_since_base: int = field(default=0, repr=False)
    # the window's pre-image slice and that slice after its batches
    _pre: PropertyGraph | None = field(default=None, repr=False)
    _post: PropertyGraph | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        from akka_graph_db_spark import store

        if self.store_root is None:
            return
        spark = self.graph.nodes.sparkSession
        if store.list_versions(self.store_root, spark):
            latest = store.load_snapshot(spark, self.store_root)
            # plan equality, no Spark job: resumed on the store's latest
            if latest.nodes.sameSemantics(
                self.graph.nodes
            ) and latest.edges.sameSemantics(self.graph.edges):
                self._persisted = latest

    def step(self, batch: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch. Its jobs are described ``fold:batch``,
        ``fold:pull``, ``fold:persist`` or ``fold:compact``."""
        sc = batch.sparkSession.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        try:
            sc.setJobDescription("fold:batch")
            # no sort: the fold orders each id's commands by seq
            b = batch.localCheckpoint(eager=True)
            self.batches_applied += 1
            if self._persisted is not None:
                sc.setJobDescription("fold:pull")  # the fold itself is lazy
                self._fold_slice(b)
            else:
                g = apply_mutation_batch(self.graph, b)
                if (
                    self.store_root is None
                    and self.checkpoint_every
                    and self.batches_applied % self.checkpoint_every == 0
                ):
                    g = PropertyGraph(
                        g.nodes.localCheckpoint(eager=True),
                        g.edges.localCheckpoint(eager=True),
                    )
                self.graph = g
            if (
                self.store_root is not None
                and self.batches_applied % self.store_every == 0
            ):
                self._persist()
        finally:
            sc.setLocalProperty("spark.job.description", caller)

    def _fold_slice(self, b: DataFrame) -> None:
        """Fold batch ``b`` into the window's slices. Only equi-semi-joins
        against the persisted view, never an OR-condition join: the fold
        reads command ids, added edges' endpoints and (for the removal
        cascade) the removed nodes' incident edges, nothing else."""
        view = self._persisted
        cmd = b.select("op", "kind", "id", "src", "dst")
        added = cmd.where((F.col("op") == "add") & (F.col("kind") == "edge"))
        node_ids = cmd.where(F.col("kind") == "node").select("id")
        edge_ids = cmd.where(F.col("kind") == "edge").select("id")
        removed = cmd.where(
            (F.col("op") == "remove") & (F.col("kind") == "node")
        ).select(F.col("id").alias("_rid"))
        for end in ("src", "dst"):
            node_ids = node_ids.unionByName(
                added.select(F.col(end).alias("id"))
            )
            edge_ids = edge_ids.unionByName(
                view.edges.join(
                    removed, F.col(end) == F.col("_rid"), "left_semi"
                ).select("id")
            )

        def _pull(rows: DataFrame, ids: DataFrame, seen) -> DataFrame:
            rows = rows.join(ids, "id", "left_semi")
            if seen is not None:
                # ids already in the window's pre-image are current in post
                rows = rows.join(seen.select("id"), "id", "left_anti")
            return rows.localCheckpoint(eager=True)

        seen = self._pre
        pulled = PropertyGraph(
            _pull(view.nodes, node_ids, seen and seen.nodes),
            _pull(view.edges, edge_ids, seen and seen.edges),
        )

        def _grow(g: PropertyGraph | None) -> PropertyGraph:
            if g is None:
                return pulled
            return PropertyGraph(
                g.nodes.unionByName(pulled.nodes),
                g.edges.unionByName(pulled.edges),
            )

        self._pre = _grow(self._pre)
        self._post = apply_mutation_batch(_grow(self._post), b)
        self.graph = PropertyGraph(
            view.nodes.join(
                self._pre.nodes.select("id"), "id", "left_anti"
            ).unionByName(self._post.nodes),
            view.edges.join(
                self._pre.edges.select("id"), "id", "left_anti"
            ).unionByName(self._post.edges),
        )

    def _persist(self) -> None:
        from akka_graph_db_spark import store

        spark = self.graph.nodes.sparkSession
        spark.sparkContext.setJobDescription("fold:persist")
        root = self.store_root
        if self._persisted is not None:
            old, new = self._pre, self._post
        elif store.list_versions(root, spark):
            # started on a graph that differs from the store: that gap
            # was never folded, so this one delta diffs whole graphs
            old, new = store.load_snapshot(spark, root), self.graph
        else:
            old = new = None
            store.save_snapshot(self.graph, root)
        if new is not None:
            delta = store.delta_from_graphs(old, new)
            store.save_delta(root, delta, validate=False)
            self._deltas_since_base += 1
        if (
            self.compact_every is not None
            and self._deltas_since_base >= self.compact_every
        ):
            spark.sparkContext.setJobDescription("fold:compact")
            store.compact(root, spark)
            self._deltas_since_base = 0
        # move onto the file-backed read of what was just written: same
        # rows, and the fold's lineage is gone
        self._persisted = self.graph = store.load_snapshot(spark, root)
        self._pre = self._post = None

    def run(self, mutation_stream: DataFrame, checkpoint_dir: str):
        """Consume an entire available stream (Trigger.AvailableNow) and
        return the final snapshot — the batch-testable entry point."""
        drain(
            mutation_stream.writeStream.foreachBatch(self.step),
            checkpoint_dir,
        )
        return self.graph
