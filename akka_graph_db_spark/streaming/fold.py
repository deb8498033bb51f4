"""Mutation-log stream → graph-snapshot fold (SURVEY.md §2.6).

The reference's concurrency surface is an actor mailbox: mutation command
messages (`NodeCreator`/`NodeUpdater`, `MainActor.scala:6-8`) submitted
fire-and-forget and applied asynchronously (`MainActor.scala:20-29`; the
worker actors were never implemented). The Spark-native equivalent is a
mutation LOG consumed by Structured Streaming: ``readStream`` over the log,
``foreachBatch`` folding each micro-batch into the next copy-on-write
snapshot via the batch CRUD operators — same async-submission semantics,
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

Within a micro-batch, commands apply in ``seq`` order grouped by (op, kind)
runs — a batch that interleaves ops on the SAME id is split into ordered
sub-batches, so add→update→remove of one id inside one micro-batch lands
correctly.

At scale: each fold step is the same anti-join/union/merge plan as batch
CRUD. A durable fold (``store_root``) runs it on only the pre-image slice
its batch touches. To cut that slice, a batch reads the store's latest
version through merge-on-read (base plus stacked deltas, one shuffle per
side) and semi-joins it with batch-sized id sets; the CRUD plan, the diff
and the write then cover O(changes) rows. Each persist moves the fold onto
the store's file-backed latest version, which bounds lineage the way a
Pregel checkpoint cadence does. An in-memory fold runs on the whole
snapshot and truncates its lineage every ``checkpoint_every`` batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.model import PropertyGraph
from akka_graph_db_spark.operators import crud

MUTATION_SCHEMA = (
    "seq bigint, op string, kind string, id bigint, label string, "
    "src bigint, dst bigint, props map<string,string>"
)


def apply_mutation_batch(g: PropertyGraph, batch: DataFrame) -> PropertyGraph:
    """Fold one (micro-)batch of mutation commands into a new snapshot.

    Commands are grouped into maximal runs of equal (op, kind) in ``seq``
    order; each run applies as one vectorized CRUD call. The run split is
    driver-side but touches only the distinct run keys (a tiny collect of
    run boundaries), not the command rows themselves.

    Cost bound (ADVICE r2): the run detection is a global ``Window.orderBy
    ("seq")`` — a single-task sort over the micro-batch's (seq, op, kind)
    triples — and each run re-filters the batch frame, so a batch with R
    runs does R passes over it. Both are O(batch), fine for micro-batch
    sizes (≤ a few hundred thousand commands); a pathological feed that
    alternates (op, kind) per command degenerates to R ≈ N and should be
    pre-compacted upstream (e.g. one (op, kind) topic-partition each, or a
    producer-side group-by), which is how a log compactor would ship this
    at scale anyway.
    """
    runs = (
        batch.select("seq", "op", "kind")
        .withColumn(
            "_run",
            F.sum(
                F.coalesce(
                    (
                        (F.lag("op").over(_seq_w()) != F.col("op"))
                        | (F.lag("kind").over(_seq_w()) != F.col("kind"))
                    ).cast("int"),
                    F.lit(0),  # NULL lag on the first row is NOT a break
                )
            ).over(_seq_w_rows()),
        )
        .groupBy("_run", "op", "kind")
        .agg(F.min("seq").alias("_from"), F.max("seq").alias("_to"))
        .orderBy("_from")
        .collect()
    )
    for r in runs:
        cmds = batch.where(
            (F.col("seq") >= r["_from"]) & (F.col("seq") <= r["_to"])
        )
        g = _apply_run(g, r["op"], r["kind"], cmds)
    return g


def _seq_w():
    from pyspark.sql import Window

    return Window.orderBy("seq")


def _seq_w_rows():
    from pyspark.sql import Window

    return (
        Window.orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _apply_run(
    g: PropertyGraph, op: str, kind: str, cmds: DataFrame
) -> PropertyGraph:
    if op == "add" and kind == "node":
        return crud.add_nodes(g, cmds.select("id", "label", "props"))
    if op == "add" and kind == "edge":
        return crud.add_edges(
            g, cmds.select("id", "label", "src", "dst", "props")
        )
    if op == "update" and kind in ("node", "edge"):
        # pre-merge duplicate ids IN SEQ ORDER (delete-markers kept), so a
        # run updating the same id twice lands deterministically
        merged = cmds.groupBy("id").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("seq", "props")),
                    # explicit comparator: structs holding maps have no
                    # default ordering
                    lambda l, r: F.when(l["seq"] < r["seq"], -1)
                    .when(l["seq"] > r["seq"], 1)
                    .otherwise(0),
                ),
                crud._empty_map(),
                lambda acc, s: crud.merge_keep_nulls(acc, s["props"]),
            ).alias("changes")
        )
        fn = crud.update_nodes if kind == "node" else crud.update_edges
        return fn(g, merged)
    if op == "remove" and kind == "node":
        return crud.remove_nodes_by_id(g, cmds.select("id"))
    if op == "remove" and kind == "edge":
        return crud.remove_edges_by_id(g, cmds.select("id"))
    raise ValueError(f"unknown mutation op/kind: {op}/{kind}")


@dataclass
class StreamingGraphFold:
    """Holds the evolving snapshot across micro-batches; attach `step` to
    ``writeStream.foreachBatch``.

    Every step first materializes the BATCH (localCheckpoint): a
    foreachBatch DataFrame is only valid inside its callback, so deferring
    evaluation would re-read expired micro-batches (fine for file
    sources, wrong or crashing for Kafka/rate).

    In memory (``store_root=None``) each batch folds into the whole
    snapshot, which stays a lazy CRUD plan over (previous state,
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
    # disables it (the CRUD plan then stacks one layer per batch). Durable
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
        # no sort: run detection and the update pre-merge order by seq
        b = batch.localCheckpoint(eager=True)
        self.batches_applied += 1
        if self._persisted is not None:
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

    def _fold_slice(self, b: DataFrame) -> None:
        """Fold batch ``b`` into the window's slices. Only equi-semi-joins
        against the persisted view, never an OR-condition join: CRUD
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
            store.compact(root, spark)
            self._deltas_since_base = 0
        # move onto the file-backed read of what was just written: same
        # rows, and the CRUD lineage is gone
        self._persisted = self.graph = store.load_snapshot(spark, root)
        self._pre = self._post = None

    def run(self, mutation_stream: DataFrame, checkpoint_dir: str):
        """Consume an entire available stream (Trigger.AvailableNow) and
        return the final snapshot — the batch-testable entry point."""
        q = (
            mutation_stream.writeStream.foreachBatch(self.step)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.graph
