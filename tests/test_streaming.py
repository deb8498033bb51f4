"""§2.6: streaming mutation fold == batch-applied CRUD."""

import os

from akka_graph_db_spark import store
from akka_graph_db_spark.operators import crud
from akka_graph_db_spark.streaming.fold import (
    MUTATION_SCHEMA,
    StreamingGraphFold,
    apply_mutation_batch,
)
from conftest import ids

LOG = [
    (1, "add", "node", 50, "t", None, None, {"v": '"a"'}),
    (2, "add", "node", 51, "t", None, None, {"v": '"b"'}),
    (3, "add", "edge", 60, "te", 50, 51, {}),
    (4, "update", "node", 50, None, None, None, {"v": '"a2"'}),
    (5, "remove", "node", 51, None, None, None, None),
    (6, "add", "node", 52, "t", None, None, {}),
]


def expected(micro):
    g = crud.add_nodes(micro, [(50, "t", {"v": "a"}), (51, "t", {"v": "b"})])
    g = crud.add_edges(g, [(60, "te", 50, 51, {})])
    g = crud.update_nodes(g, {50: {"v": "a2"}})
    g = crud.remove_nodes_by_id(g, [51])  # cascades to edge 60
    g = crud.add_nodes(g, [(52, "t", {})])
    return g


def test_batch_fold_matches_crud(spark, micro):
    batch = spark.createDataFrame(LOG, MUTATION_SCHEMA)
    folded = apply_mutation_batch(micro, batch)
    exp = expected(micro)
    assert ids(folded.nodes) == ids(exp.nodes)
    assert ids(folded.edges) == ids(exp.edges)
    assert 60 not in ids(folded.edges)  # cascade inside the fold


def test_same_id_updated_twice_in_one_batch(spark, micro):
    log = [
        (1, "add", "node", 50, "t", None, None, {"v": '"a"'}),
        (2, "update", "node", 50, None, None, None, {"v": '"b"'}),
        (3, "update", "node", 50, None, None, None, {"w": '"c"'}),
    ]
    batch = spark.createDataFrame(log, MUTATION_SCHEMA)
    folded = apply_mutation_batch(micro, batch)
    rows = folded.nodes.where("id = 50").collect()
    assert len(rows) == 1  # no duplicate-row corruption
    assert rows[0]["props"] == {"v": '"b"', "w": '"c"'}  # both updates land


def test_streaming_fold_matches_batch(spark, micro, tmp_path):
    tmp = str(tmp_path)
    log_dir = os.path.join(tmp, "log")
    # 3 micro-batch files in seq order (one file per repartition slice
    # would interleave; availableNow processes files deterministically and
    # the fold orders by seq inside each batch)
    spark.createDataFrame(LOG, MUTATION_SCHEMA).coalesce(1).write.json(log_dir)
    stream = spark.readStream.schema(MUTATION_SCHEMA).json(log_dir)
    fold = StreamingGraphFold(micro)
    final = fold.run(stream, os.path.join(tmp, "ckpt"))
    exp = expected(micro)
    assert ids(final.nodes) == ids(exp.nodes)
    assert ids(final.edges) == ids(exp.edges)
    assert fold.batches_applied >= 1


def test_streaming_fold_durable_deltas(spark, micro, tmp_path):
    tmp = str(tmp_path)
    log_dir = os.path.join(tmp, "log")
    # one file per command => one micro-batch each (maxFilesPerTrigger=1)
    for row in LOG:
        spark.createDataFrame([row], MUTATION_SCHEMA).coalesce(1).write.mode(
            "append"
        ).json(log_dir)
    stream = (
        spark.readStream.schema(MUTATION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(log_dir)
    )
    root = os.path.join(tmp, "store")
    fold = StreamingGraphFold(
        micro, store_root=root, store_every=2, compact_every=2
    )
    final = fold.run(stream, os.path.join(tmp, "ckpt"))
    exp = expected(micro)
    assert ids(final.nodes) == ids(exp.nodes)

    # durable state equals the in-memory fold result
    persisted = store.load_snapshot(spark, root)
    assert ids(persisted.nodes) == ids(final.nodes)
    assert ids(persisted.edges) == ids(final.edges)
    # 6 single-command batches / store_every=2 -> base + deltas, and
    # compact_every=2 re-based at least once
    kinds = store.list_version_kinds(root)
    assert kinds[0] == (0, "base")
    assert any(k == "delta" for _, k in kinds[1:])
    assert any(k == "base" for _, k in kinds[1:])


def _fold_batches(spark, fold, batches, tmp):
    """Run each batch of command rows through ``fold`` as its own
    availableNow stream."""
    for i, rows in enumerate(batches):
        log_dir = os.path.join(tmp, f"log{i}")
        spark.createDataFrame(rows, MUTATION_SCHEMA).coalesce(1).write.json(
            log_dir
        )
        fold.run(
            spark.readStream.schema(MUTATION_SCHEMA).json(log_dir),
            os.path.join(tmp, f"ckpt{i}"),
        )


def _delta_ids(spark, root, v):
    vdir = os.path.join(root, f"v={v}")
    return {
        name: ids(
            spark.read.schema("id bigint").parquet(os.path.join(vdir, name))
        )
        for name in (
            "nodes_upserts", "node_deletes", "edges_upserts", "edge_deletes"
        )
    }


def _incident(micro, node_id):
    e = micro.edges
    return sorted(
        r["id"]
        for r in e.where((e.src == node_id) | (e.dst == node_id)).collect()
    )


# update node 2 and remove node 1, cascading to its incident edges
_UPDATE_AND_REMOVE = [
    (2, "update", "node", 2, None, None, None, {"v": '"x"'}),
    (3, "remove", "node", 1, None, None, None, None),
]


def test_durable_delta_is_o_changes(spark, micro, tmp_path):
    """The persisted delta must contain ONLY the ids the mutation batches
    touched (plus cascade victims) — never a rewrite of untouched rows."""
    tmp = str(tmp_path)
    root = os.path.join(tmp, "store")
    # batch 0 -> base snapshot of micro + the added node
    b0 = [(1, "add", "node", 70, "t", None, None, {})]
    # batch 1 -> delta: one update + one node remove cascading to an edge
    b1 = [
        (2, "update", "node", 70, None, None, None, {"v": '"x"'}),
        (3, "remove", "node", 1, None, None, None, None),
    ]
    fold = StreamingGraphFold(micro, store_root=root, store_every=1)
    _fold_batches(spark, fold, (b0, b1), tmp)
    kinds = store.list_version_kinds(root)
    assert kinds == [(0, "base"), (1, "delta")]
    incident = _incident(micro, 1)
    assert incident
    assert _delta_ids(spark, root, 1) == {
        "nodes_upserts": [70],  # only the updated node rewrites
        "node_deletes": [1],  # only the removed node deletes
        "edges_upserts": [],
        "edge_deletes": incident,  # the cascade, nothing else
    }
    # and the merged read-back equals the in-memory fold state
    persisted = store.load_snapshot(spark, root)
    assert ids(persisted.nodes) == ids(fold.graph.nodes)
    assert ids(persisted.edges) == ids(fold.graph.edges)


def test_fold_resumed_on_store_slices_first_batch(spark, micro, tmp_path):
    """A fold started on ``store.load_snapshot(root)`` recognises the
    store's latest version and folds its first batch into the slice that
    batch touches: the first delta holds only the batch's ids."""
    tmp = str(tmp_path)
    root = os.path.join(tmp, "store")
    store.save_snapshot(micro, root)
    fold = StreamingGraphFold(
        store.load_snapshot(spark, root), store_root=root
    )
    assert fold._persisted is not None  # slices from the first batch
    _fold_batches(spark, fold, [_UPDATE_AND_REMOVE], tmp)
    assert store.list_version_kinds(root) == [(0, "base"), (1, "delta")]
    assert _delta_ids(spark, root, 1) == {
        "nodes_upserts": [2],
        "node_deletes": [1],
        "edges_upserts": [],
        "edge_deletes": _incident(micro, 1),
    }
    want = crud.remove_nodes_by_id(micro, [1])
    assert ids(fold.graph.nodes) == ids(want.nodes)
    assert ids(fold.graph.edges) == ids(want.edges)


def test_fold_resumed_off_store_writes_gap_in_first_delta(
    spark, micro, tmp_path
):
    """A fold started on a graph that differs from the store's latest
    version writes that gap together with its first batch, so the store
    equals ``fold.graph`` afterwards."""
    tmp = str(tmp_path)
    root = os.path.join(tmp, "store")
    store.save_snapshot(micro, root)
    # the gap: node 10 removed and node 3 updated outside the store
    start = crud.update_nodes(
        crud.remove_nodes_by_id(micro, [10]), {3: {"name": "CAROL"}}
    )
    fold = StreamingGraphFold(start, store_root=root)
    assert fold._persisted is None  # must diff whole graphs once
    _fold_batches(spark, fold, [_UPDATE_AND_REMOVE], tmp)
    assert store.list_version_kinds(root) == [(0, "base"), (1, "delta")]
    assert _delta_ids(spark, root, 1) == {
        "nodes_upserts": [2, 3],
        "node_deletes": [1, 10],
        "edges_upserts": [],
        "edge_deletes": _incident(micro, 1),
    }
    def rows(df):
        return sorted(
            (r["id"], r["label"], sorted(r["props"].items()))
            for r in df.collect()
        )

    persisted = store.load_snapshot(spark, root)
    assert rows(persisted.nodes) == rows(fold.graph.nodes)
    assert rows(persisted.edges) == rows(fold.graph.edges)


def test_streaming_cms_merge_equals_batch(spark, tmp_path):
    """CMS counters ADD: the sketch accumulated over N micro-batches is
    bit-identical to the batch sketch of the same rows, and estimates
    for in-corpus terms are >= exact counts."""
    from akka_graph_db_spark.functions import search
    from akka_graph_db_spark.streaming.sketch import StreamingCMS

    rows = [(t,) for t in ["a"] * 5 + ["b"] * 3 + ["c"] * 2]
    df = spark.createDataFrame(rows, "term string")
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cms = StreamingCMS(width=64, depth=3)
    sketch = cms.run(stream, os.path.join(tmp, "ckpt"))
    assert cms.batches_applied == 3
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in search.cms_sketch(df, width=64, depth=3).collect()
    }
    merged = {
        (r["row"], r["bucket"]): r["cnt"] for r in sketch.collect()
    }
    assert merged == batch
    est = {
        r["term"]: r["cms_estimate"]
        for r in search.cms_estimate(
            sketch, df.select("term").distinct(), width=64, depth=3
        ).collect()
    }
    assert est["a"] >= 5 and est["b"] >= 3 and est["c"] >= 2


def test_streaming_hll_merge_equals_batch(spark, tmp_path):
    """HLL registers merge by MAX: streamed registers == batch registers
    bit-for-bit, so the estimate is identical too."""
    from akka_graph_db_spark.functions import search
    from akka_graph_db_spark.streaming.sketch import StreamingHLL

    from pyspark.sql import functions as F

    df = spark.range(0, 300).select(F.col("id").alias("v"))
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hll = StreamingHLL(value_col="v", p=6)
    sketch = hll.run(stream, os.path.join(tmp, "ckpt"))
    assert hll.batches_applied == 3
    batch = {
        r["bucket"]: r["register"]
        for r in search.hll_sketch(df, "v", p=6).collect()
    }
    merged = {r["bucket"]: r["register"] for r in sketch.collect()}
    assert merged == batch
