"""Snapshot store: mutate → save → reload → scan round-trip."""

import tempfile

import pyspark.sql.functions as F

from akka_graph_db_spark import store
from akka_graph_db_spark.operators import crud, scan
from conftest import ids


def test_round_trip_and_versions(spark, micro):
    root = tempfile.mkdtemp(prefix="snap_")
    v0 = store.save_snapshot(micro, root)
    g2 = crud.remove_nodes_by_id(micro, [1])
    v1 = store.save_snapshot(g2, root)
    assert store.list_versions(root) == [v0, v1] == [0, 1]

    latest = store.load_snapshot(spark, root)
    assert ids(latest.nodes) == ids(g2.nodes)
    assert ids(latest.edges) == ids(g2.edges)

    original = store.load_snapshot(spark, root, version=0)
    assert ids(original.nodes) == ids(micro.nodes)


def test_reloaded_snapshot_scans_and_mutates(spark, micro):
    root = tempfile.mkdtemp(prefix="snap_")
    store.save_snapshot(micro, root)
    g = store.load_snapshot(spark, root)
    assert ids(scan.get_nodes(g, "person", {"name": "alice"})) == [1]
    g2 = crud.update_nodes(g, {1: {"name": "ALICE"}})
    assert ids(scan.get_nodes(g2, "person", {"name": "ALICE"})) == [1]


def test_label_partition_pruning(spark, micro):
    import contextlib
    import io

    root = tempfile.mkdtemp(prefix="snap_")
    store.save_snapshot(micro, root)
    g = store.load_snapshot(spark, root)
    q = g.nodes.where(F.col("label") == "person")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    txt = buf.getvalue()
    # label is a filesystem partition column on the stored layout
    assert "PartitionFilters" in txt and "label" in txt


def test_empty_graph_round_trips(spark, micro):
    # ADVICE r2: an edge-less (or node-less) graph is a legal snapshot state;
    # the write emits only _SUCCESS and the load must not die on inference.
    root = tempfile.mkdtemp(prefix="snap_")
    empty = crud.remove_nodes(micro, label=None, data=None)
    store.save_snapshot(empty, root)
    g = store.load_snapshot(spark, root)
    assert g.nodes.count() == 0
    assert g.edges.count() == 0
    assert [f.name for f in g.nodes.schema.fields] == ["id", "label", "props"]
    assert [f.name for f in g.edges.schema.fields] == [
        "id", "label", "src", "dst", "props",
    ]


def test_file_uri_round_trip(spark, micro):
    # VERDICT r2 #6: versioning must work through the Hadoop FileSystem API
    # (object-storage layout), not os.listdir — exercised via file:// here.
    root = "file://" + tempfile.mkdtemp(prefix="snap_uri_")
    v0 = store.save_snapshot(micro, root)
    assert store.list_versions(root, spark) == [v0] == [0]
    g = store.load_snapshot(spark, root)
    assert ids(g.nodes) == ids(micro.nodes)
    assert ids(g.edges) == ids(micro.edges)


# --- base + delta layout (merge-on-read) -----------------------------------


def test_delta_merge_on_read_and_time_travel(spark, micro):
    root = tempfile.mkdtemp(prefix="snap_")
    store.save_snapshot(micro, root)  # v=0 base
    g1 = crud.update_nodes(micro, {1: {"name": "ALICE", "age": None}})
    g1 = crud.remove_nodes_by_id(g1, [2])  # cascades to 2's edges
    delta = store.delta_from_graphs(micro, g1)
    v1 = store.save_delta(root, delta)
    assert v1 == 1
    assert store.list_version_kinds(root) == [(0, "base"), (1, "delta")]

    merged = store.load_snapshot(spark, root)
    assert ids(merged.nodes) == ids(g1.nodes)
    assert ids(merged.edges) == ids(g1.edges)
    # the upsert carried the post-merge props (changed key + null-delete)
    assert ids(scan.get_nodes(merged, "person", {"name": "ALICE"})) == [1]
    row = merged.nodes.where(F.col("id") == 1).collect()[0]
    assert "age" not in row["props"]
    # time travel below the delta is still the exact base
    v0 = store.load_snapshot(spark, root, version=0)
    assert ids(v0.nodes) == ids(micro.nodes)


def test_delta_chain_compact_vacuum(spark, micro):
    root = tempfile.mkdtemp(prefix="snap_")
    store.save_snapshot(micro, root)
    g = micro
    for nid in (2, 8):
        g2 = crud.remove_nodes_by_id(g, [nid])
        store.save_delta(
            root, store.delta_from_graphs(g, g2), validate=False
        )
        g = g2
    merged = store.load_snapshot(spark, root)  # base + 2 stacked deltas
    assert ids(merged.nodes) == ids(g.nodes)
    assert ids(merged.edges) == ids(g.edges)

    v = store.compact(root, spark)
    assert v == 3
    assert store.list_version_kinds(root)[-1] == (3, "base")
    rebased = store.load_snapshot(spark, root)  # direct base read now
    assert ids(rebased.nodes) == ids(g.nodes)
    assert ids(rebased.edges) == ids(g.edges)

    assert store.vacuum(root, spark) == [0, 1, 2]
    assert store.list_versions(root) == [3]
    assert ids(store.load_snapshot(spark, root).nodes) == ids(g.nodes)


def test_delta_contract_enforced(spark, micro):
    root = tempfile.mkdtemp(prefix="snap_")
    one = spark.createDataFrame([(1,)], "id bigint")
    ups = micro.nodes.where(F.col("id") == 1)
    # a delta cannot be the first version
    try:
        store.save_delta(root, store.GraphDelta(node_upserts=ups))
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass
    store.save_snapshot(micro, root)
    # same id upserted and deleted in one batch is rejected
    try:
        store.save_delta(
            root, store.GraphDelta(node_upserts=ups, node_deletes=one)
        )
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
    # an all-empty delta is legal and a no-op on merge
    v = store.save_delta(root, store.GraphDelta())
    merged = store.load_snapshot(spark, root, version=v)
    assert ids(merged.nodes) == ids(micro.nodes)
    assert ids(merged.edges) == ids(micro.edges)



def test_crashed_writer_versions_are_invisible(spark, micro, tmp_path):
    """Durability contract: a version directory missing its commit
    marker (_SUCCESS for bases, _DELTA for deltas) is IGNORED by the
    version log and by loads — a crashed writer can never surface a
    half-written snapshot."""
    import os

    root = str(tmp_path / "snaps")
    v0 = store.save_snapshot(micro, root)
    assert store.list_version_kinds(root, spark) == [(v0, "base")]

    # fake a base writer that died between the nodes and edges jobs
    crashed = os.path.join(root, f"v={v0 + 1}")
    os.makedirs(os.path.join(crashed, "nodes"))
    open(os.path.join(crashed, "nodes", "_SUCCESS"), "w").close()
    os.makedirs(os.path.join(crashed, "edges"))  # no _SUCCESS

    # fake a delta writer that died before its _DELTA marker
    crashed_d = os.path.join(root, f"v={v0 + 2}")
    os.makedirs(os.path.join(crashed_d, "nodes_upserts"))
    open(
        os.path.join(crashed_d, "nodes_upserts", "_SUCCESS"), "w"
    ).close()

    assert store.list_version_kinds(root, spark) == [(v0, "base")]
    g = store.load_snapshot(spark, root)  # resolves to v0
    assert g.nodes.count() == micro.nodes.count()
    assert g.edges.count() == micro.edges.count()

    # a subsequent good writer skips past the junk version numbers
    v_next = store.save_snapshot(micro, root)
    assert v_next > v0 + 2
    assert store.list_version_kinds(root, spark)[-1] == (v_next, "base")


def test_incremental_degrees_matches_recount(spark, micro):
    """Incremental per-node degrees over a delta exercising all three
    edge-mutation shapes (new edge, retarget-upsert of an existing id,
    delete) must equal a full degree recount of the merged snapshot."""
    root = tempfile.mkdtemp(prefix="snap_incdeg_")
    store.save_snapshot(micro, root)  # v0 base
    empty_map = F.create_map().cast("map<string,string>")
    some_edge = micro.edges.orderBy("id").limit(2).collect()
    e_keep, e_retarget = some_edge[0], some_edge[1]
    ups = spark.createDataFrame(
        [
            (977_001, "knows", 1, 8),  # brand-new edge
            # retarget an existing edge id to new endpoints
            (e_retarget["id"], e_retarget["label"], 8, 1),
        ],
        "id bigint, label string, src bigint, dst bigint",
    ).withColumn("props", empty_map)
    dels = spark.createDataFrame([(e_keep["id"],)], "id bigint")
    delta = store.GraphDelta(
        edge_upserts=ups, edge_deletes=dels, node_deletes=dels.limit(0)
    )
    store.save_delta(root, delta, validate=True)

    inc = {
        r["id"]: (r["out_degree"], r["in_degree"])
        for r in store.incremental_degrees(spark, root).collect()
    }
    merged = store.load_snapshot(spark, root).edges
    full = {}
    for r in merged.select("src", "dst").collect():
        full[r["src"]] = (full.get(r["src"], (0, 0))[0] + 1,
                          full.get(r["src"], (0, 0))[1])
        full[r["dst"]] = (full.get(r["dst"], (0, 0))[0],
                          full.get(r["dst"], (0, 0))[1] + 1)
    assert inc == full
    assert inc[8][0] >= 1  # the retarget landed at its new src


def test_incremental_label_counts_matches_recount(spark, micro):
    """Incremental per-label counts over a delta (new node, same-label
    update, label change via upsert, delete) must equal a full recount
    of the merged snapshot."""
    from akka_graph_db_spark.model import PropertyGraph

    root = tempfile.mkdtemp(prefix="snap_inc_")
    store.save_snapshot(micro, root)  # v0 base
    empty_map = F.create_map().cast("map<string,string>")
    ups = spark.createDataFrame(
        [(901,), (1,), (3,)], "id bigint"
    ).select(
        "id",
        F.when(F.col("id") == 3, F.lit("robot"))
        .otherwise(F.lit("person"))
        .alias("label"),
        empty_map.alias("props"),
    )
    # 901: brand-new person; 1: same-label update; 3: person -> robot
    dels = spark.createDataFrame([(2,)], "id bigint")
    delta = store.GraphDelta(
        node_upserts=ups, node_deletes=dels, edge_deletes=dels.limit(0)
    )
    store.save_delta(root, delta, validate=False)

    inc = {
        r["label"]: r["n_nodes"]
        for r in store.incremental_label_counts(spark, root).collect()
    }
    full = {
        r["label"]: r["n"]
        for r in store.load_snapshot(spark, root)
        .nodes.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert inc == full
    assert inc.get("robot") == 1  # the label move landed


def test_version_summary_counts(spark, micro):
    """One row per complete version; base = full counts, delta = its
    exact O(changes) footprint."""
    import tempfile

    from akka_graph_db_spark import store
    from akka_graph_db_spark.operators import crud

    root = tempfile.mkdtemp(prefix="vs_t_")
    store.save_snapshot(micro, root)
    g2 = crud.remove_nodes_by_id(micro, [1])
    store.save_delta(
        root, store.delta_from_graphs(micro, g2), validate=False
    )
    rows = {
        r["version"]: r
        for r in store.version_summary(root, spark).collect()
    }
    n_nodes = micro.nodes.count()
    n_edges = micro.edges.count()
    incident = micro.edges.where(
        (micro.edges.src == 1) | (micro.edges.dst == 1)
    ).count()
    b = rows[0]
    assert (b["kind"], b["n_node_upserts"], b["n_edge_upserts"]) == (
        "base", n_nodes, n_edges,
    )
    d = rows[1]
    assert (d["kind"], d["n_node_upserts"], d["n_node_deletes"],
            d["n_edge_deletes"]) == ("delta", 0, 1, incident)
    assert incident > 0


def test_incremental_topk_matches_full_and_carries_untouched(spark, micro):
    """Touched-label top-k maintenance must equal a full recompute of the
    merged snapshot, and labels the delta never mentions must carry their
    previous rows over verbatim."""
    from pyspark.sql import Window

    from akka_graph_db_spark.model import prop_double

    root = tempfile.mkdtemp(prefix="snap_inctopk_")
    store.save_snapshot(micro, root)  # v0 base
    # touch ONLY 'person': new high scorer, update of id 1, delete of id 2
    ups = spark.createDataFrame(
        [
            (901, "person", {"age": "99"}),
            (1, "person", {"age": "77"}),
        ],
        "id bigint, label string, props map<string,string>",
    )
    dels = spark.createDataFrame([(2,)], "id bigint")
    store.save_delta(
        root, store.GraphDelta(node_upserts=ups, node_deletes=dels),
        validate=True,
    )

    got = store.incremental_topk(spark, root, "age", k=2)

    def full_topk(nodes):
        w = Window.partitionBy("label").orderBy(
            F.desc_nulls_last("_v"), F.col("id")
        )
        return (
            nodes.select("id", "label", prop_double("props", "age").alias("_v"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 2)
            .select("label", F.col("rank").cast("int").alias("rank"), "id",
                    F.col("_v").alias("value"))
        )

    want = full_topk(store.load_snapshot(spark, root).nodes)
    key = lambda r: (r["label"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the new person scorer is rank 1; untouched labels (city/hub/island)
    # equal the PREVIOUS version's rows exactly
    by = {key(r): r for r in got.collect()}
    assert by[("person", 1)]["id"] == 901
    prev = full_topk(
        store.load_snapshot(spark, root, version=0).nodes
    ).where(F.col("label") != "person")
    assert sorted(
        map(tuple, got.where(F.col("label") != "person").collect())
    ) == sorted(map(tuple, prev.collect()))


def test_version_diff_manifest(spark, tmp_path):
    """v0 -> v1: one node updated, one node + its incident edge removed,
    one node added — the row-level manifest names each exactly once."""
    from akka_graph_db_spark import store
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import crud

    nodes = spark.createDataFrame(
        [(1, "a", '{"x": 1}'), (2, "a", "{}"), (3, "b", "{}")],
        "id bigint, label string, props string",
    ).selectExpr(
        "id", "label",
        "from_json(props, 'map<string,string>') AS props",
    )
    edges = spark.createDataFrame(
        [(10, "e", 1, 2, "{}"), (11, "e", 2, 3, "{}")],
        "id bigint, label string, src bigint, dst bigint, props string",
    ).selectExpr(
        "id", "label", "src", "dst",
        "from_json(props, 'map<string,string>') AS props",
    )
    g = PropertyGraph(nodes, edges)
    g2 = crud.update_nodes(g, {1: {"x": 2}})
    g2 = crud.remove_nodes_by_id(g2, [3])
    g2 = crud.add_nodes(g2, [(4, "a", {})])
    root = str(tmp_path / "vd")
    store.save_snapshot(g, root)
    store.save_delta(root, store.delta_from_graphs(g, g2), validate=False)
    got = [
        (r["kind"], r["id"], r["change"])
        for r in store.version_diff(root, 0, 1, spark).collect()
    ]
    assert got == [
        ("edge", 11, "removed"),
        ("node", 4, "added"),
        ("node", 3, "removed"),
        ("node", 1, "updated"),
    ]


def test_same_version_upsert_and_delete_resolve_to_delete(spark, tmp_path):
    """A delta written with validate=False may hold one id in both its
    upserts and its deletes; merge-on-read and both version_diff paths
    must all resolve that tie the same way: the delete wins."""
    from akka_graph_db_spark.model import PropertyGraph

    nodes = spark.createDataFrame(
        [(i, "a", {"x": '"0"'}) for i in range(1, 9)],
        "id bigint, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [], "id bigint, label string, src bigint, dst bigint,"
        " props map<string,string>",
    )
    root = str(tmp_path / "tie")
    store.save_snapshot(PropertyGraph(nodes, edges), root)
    tied = list(range(1, 7))  # upserted AND deleted in v=1
    ups = nodes.where(F.col("id").isin(tied + [7])).withColumn(
        "props", F.create_map(F.lit("x"), F.lit('"1"'))
    )
    dels = spark.createDataFrame([(i,) for i in tied], "id bigint")
    store.save_delta(
        root,
        store.GraphDelta(node_upserts=ups, node_deletes=dels),
        validate=False,
    )
    assert ids(store.load_snapshot(spark, root).nodes) == [7, 8]
    kinds = dict(store.list_version_kinds(root, spark))
    rows = lambda df: [  # noqa: E731
        (r["kind"], r["id"], r["change"]) for r in df.collect()
    ]
    want = [("node", i, "removed") for i in tied] + [("node", 7, "updated")]
    assert rows(store._version_diff_fused(root, 0, 0, 1, kinds, spark)) == want
    assert rows(store._version_diff_joined(root, 0, 1, spark)) == want


def _codegen_compiles(spark) -> int:
    """Generated-code (Janino) compiles so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_merged_read_reuses_generated_code_across_versions(
    spark, micro, tmp_path
):
    """Merge-on-read tags rows by chain position, not absolute version,
    so the same read at the same chain depth generates the same code on
    a later chain and compiles nothing new; and the session's codegen
    cache is sized by session.CODEGEN_CACHE_MAX_ENTRIES."""
    from akka_graph_db_spark import session
    from akka_graph_db_spark.model import EDGE_CORE_COLS, NODE_CORE_COLS

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )
    root = str(tmp_path / "codegen")
    store.save_snapshot(micro, root)

    def rows(df, i):
        return df.where(F.col("id") == i)

    def stack_two(tag):
        # same delta shapes on every chain, different values
        for i in (1, 2):
            store.save_delta(
                root,
                store.GraphDelta(
                    node_upserts=rows(micro.nodes, i).withColumn(
                        "props", F.create_map(F.lit("k"), F.lit(f"{tag}{i}"))
                    ),
                    edge_upserts=rows(micro.edges, 100 + i),
                    node_deletes=rows(micro.nodes, 8 + i).select("id"),
                    edge_deletes=rows(micro.edges, 110 + i).select("id"),
                ),
            )
        return store.list_versions(root, spark)[-1]

    def read(v):
        g = store.load_snapshot(spark, root, version=v)
        return (
            sorted(g.nodes.select(*NODE_CORE_COLS).collect()),
            sorted(g.edges.select(*EDGE_CORE_COLS).collect()),
        )

    first = read(stack_two("a"))
    store.compact(root)
    v = stack_two("b")
    assert v == 5  # v3 is the compacted base, two deltas above it
    before = _codegen_compiles(spark)
    second = read(v)
    assert _codegen_compiles(spark) - before == 0
    assert [r["id"] for r in second[0]] == [r["id"] for r in first[0]]


def test_merge_on_read_across_a_version_gap(spark, micro, tmp_path):
    """A crashed writer's leftover directory takes a version number but
    no chain position: with base v0, junk v1, and deltas v2 and v3, both
    time-travel loads and the fused version_diff(v2, v3) still resolve
    each id by version order."""
    import os

    def node_rows(g):
        return sorted(
            (r["id"], r["label"], dict(r["props"])) for r in g.nodes.collect()
        )

    root = str(tmp_path / "gap")
    store.save_snapshot(micro, root)
    junk = os.path.join(root, "v=1", "nodes_upserts")  # no _DELTA marker
    os.makedirs(junk)
    open(os.path.join(junk, "_SUCCESS"), "w").close()

    def nodes(rows):
        return spark.createDataFrame(
            rows, "id bigint, label string, props map<string,string>"
        )

    x, y = 42, 1  # x is new at v2 and deleted at v3; y is updated at v3
    v2 = store.save_delta(
        root, store.GraphDelta(node_upserts=nodes([(x, "new", {"p": "x"})]))
    )
    v3 = store.save_delta(
        root,
        store.GraphDelta(
            node_upserts=nodes([(y, "person", {"p": "y"})]),
            node_deletes=spark.createDataFrame([(x,)], "id bigint"),
        ),
    )
    assert (v2, v3) == (2, 3)
    assert [v for v, _ in store.list_version_kinds(root, spark)] == [0, 2, 3]

    base = node_rows(micro)
    assert node_rows(store.load_snapshot(spark, root, version=2)) == sorted(
        base + [(x, "new", {"p": "x"})]
    )
    g3 = store.load_snapshot(spark, root, version=3)
    at_v3 = [r for r in base if r[0] != y] + [(y, "person", {"p": "y"})]
    assert node_rows(g3) == sorted(at_v3)
    assert ids(g3.edges) == ids(micro.edges)
    assert [
        (r["kind"], r["id"], r["change"])
        for r in store.version_diff(root, 2, 3, spark).collect()
    ] == [("node", x, "removed"), ("node", y, "updated")]
