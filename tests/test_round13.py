"""Round-13 optimization tests.

Pins the invariants the r13 optimization pass relies on:

- the numpy XXH64 is bit-identical to Spark's ``xxhash64`` (the dedup
  size-ratio prefilter's ``_n`` is now counted in the SAME hash family
  the exact verify intersects — VERDICT r12 #2);
- both signature paths' ``_n`` equals the verify frame's set size;
- the streaming staging helper writes exactly ``n_files`` contiguous
  slices on the mtime ladder while streaming record batches;
- both link-prediction operators' broadcast-adjacency intersection path
  is output-identical to the shuffle wedge path it gates over, and its
  broadcast holds the byte budget written next to the gate.
"""

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import SF as SF_DIR


def test_xxhash64_np_matches_spark(spark):
    """Spark-parity of the numpy XXH64 over adversarial lengths (0..100
    bytes, every tail-branch combination), non-ASCII UTF-8, and real
    fixture tokens."""
    import numpy as np

    from akka_graph_db_spark.functions.hashing import xxhash64_bytes_np

    strings = ["x" * n for n in range(0, 101)]
    strings += ["naïve", "héllo wörld", "日本語テキスト", "a b c", " ", "\t"]
    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .where(F.col("t") != "")
        .distinct()
        .limit(5000)
        .collect()
    )
    strings += [r["t"] for r in toks]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    want = [
        r["h"] for r in df.select(F.xxhash64("s").alias("h")).collect()
    ]
    got = xxhash64_bytes_np([s.encode("utf-8") for s in strings])
    assert got.dtype == np.int64
    assert list(got) == want


@pytest.mark.parametrize("shingle_n", [1, 3])
@pytest.mark.parametrize("arrow", [True, False])
def test_signature_n_equals_verify_set_size(spark, shingle_n, arrow):
    """The prefilter's ``_n`` must count elements of the SAME sets the
    exact verify intersects — on both signature paths, for both the
    token (shingle_n=1, hashed-distinct) and shingle (>1, raw-distinct)
    regimes, empty docs included."""
    from akka_graph_db_spark.functions.dedup import (
        _shingle_sets,
        _signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [(90_000_001, ""), (90_000_002, "  "), (90_000_003, "one"),
         (90_000_004, "a b a b")],
        "doc_id bigint, text string",
    )
    docs = docs.unionByName(extra)
    sig_n = _signatures(
        docs, "text", "doc_id", 64, shingle_n, arrow
    ).select(F.col("_id").alias("_sid"), F.col("_n").alias("_n_sig"))
    sh_n = _shingle_sets(docs, "text", "doc_id", shingle_n).select(
        "_sid", F.col("_n").alias("_n_sh")
    )
    bad = (
        sig_n.join(sh_n, "_sid")
        .where(F.col("_n_sig") != F.col("_n_sh"))
        .count()
    )
    assert bad == 0


def _stage_source(dirpath, n, row_group_size=7):
    """A parquet events table of ``n`` rows in row groups of
    ``row_group_size``; returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(str(dirpath), f"events_{n}_{row_group_size}.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + 997 * i for i in range(n)],
                    pa.timestamp("us"),
                ),
                "event_type": ["click" if i % 3 else "view" for i in range(n)],
            }
        ),
        path,
        row_group_size=row_group_size,
    )
    return path


def _check_stage(dirpath, path, n_files, columns, where=None, repeat=1):
    """Stage ``path`` with ``_stage`` and check that it writes exactly
    ``n_files`` files on the one-minute mtime ladder, each the matching
    contiguous slice of the whole (filtered, repeated, renamed) table.
    Returns the files' row counts."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    whole = pq.read_table(path)
    if where is not None:
        whole = whole.filter(where)
    whole = whole.set_column(
        1, "ts", whole["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    whole = pa.concat_tables([whole] * repeat)
    if not isinstance(columns, dict):
        columns = dict(zip(columns, columns))
    whole = pa.table([whole[c] for c in columns.values()], names=list(columns))
    dest = os.path.join(str(dirpath), f"staged_{len(os.listdir(dirpath))}")
    paths = entry._stage(path, dest, n_files, columns, where, repeat)

    names = [f"part-{i:02d}.parquet" for i in range(n_files)]
    assert sorted(os.listdir(dest)) == names
    assert paths == [os.path.join(dest, f) for f in names]
    assert [os.path.getmtime(p) for p in paths] == [
        1_600_000_000 + 60 * i for i in range(n_files)
    ]
    step = max(1, math.ceil(whole.num_rows / n_files))
    for i, p in enumerate(paths):
        got = pq.read_table(p)
        assert got.equals(whole.slice(i * step, step)), (p, got)
    counts = [pq.read_metadata(p).num_rows for p in paths]
    assert sum(counts) == whole.num_rows
    return counts


def test_stage_writes_contiguous_slices(tmp_path):
    """_stage streams record batches into exactly ``n_files`` files on
    the one-minute mtime ladder, each the matching contiguous slice of
    the whole (filtered, repeated, renamed) table — also when slices
    cross the source's 7-row batches and when the source has fewer rows
    than ``n_files`` (empty tail files)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def source(n):
        return _stage_source(tmp_path, n)

    def check(path, n_files, columns, where=None, repeat=1):
        return _check_stage(tmp_path, path, n_files, columns, where, repeat)

    big = source(100)
    # the premise: scans yield many small batches, so slices cross them
    assert len(list(ds.dataset(big).to_batches())) == 15
    click = pc.field("event_type") == "click"
    assert check(big, 4, ["event_id", "ts"]) == [25] * 4
    assert check(big, 3, {"id": "event_id", "t": "ts"}, click) == [22] * 3
    assert check(big, 4, ["ts", "event_type"], click, repeat=2) == [33] * 4
    # fewer rows than files: the tail files exist, empty, same schema
    assert check(source(2), 4, ["event_id", "ts"]) == [1, 1, 0, 0]
    assert check(source(2), 4, ["event_id"], click) == [1, 0, 0, 0]


@settings(max_examples=30, deadline=None)
@given(
    n_rows=st.integers(0, 40),
    row_group_size=st.integers(1, 9),
    n_files=st.integers(1, 6),
    columns=st.sampled_from(
        [
            ["event_id", "ts"],
            ["ts"],
            ["event_type", "event_id"],
            {"id": "event_id", "t": "ts"},
            {"kind": "event_type", "when": "ts", "again": "ts"},
        ]
    ),
    clicks_only=st.booleans(),
    repeat=st.integers(1, 3),
)
def test_stage_slices_match_whole_table(
    n_rows, row_group_size, n_files, columns, clicks_only, repeat
):
    """For random source sizes and row-group sizes, file counts, filters,
    renames and repeats, every file ``_stage`` writes is the contiguous
    slice of the whole table at its position (pyarrow only, no Spark)."""
    import tempfile

    import pyarrow.compute as pc

    where = (pc.field("event_type") == "click") if clicks_only else None
    with tempfile.TemporaryDirectory() as tmp:
        path = _stage_source(tmp, n_rows, row_group_size)
        _check_stage(tmp, path, n_files, columns, where, repeat)


@pytest.mark.parametrize(
    "op, top_k",
    [
        ("link_prediction_jaccard", 50),
        ("link_prediction_resource_allocation", 20),
    ],
    ids=["jaccard", "ra"],
)
def test_link_prediction_intersect_path_matches_wedge_path(spark, op, top_k):
    """The broadcast-adjacency mapInArrow intersection path must be
    row-identical to the wedge shuffle path on the same input (same
    counts, same IEEE jaccard doubles or ppm sums, same order)."""
    from akka_graph_db_spark.operators import analytics

    import __spark_entry__ as entry

    pairs = entry._coorder_pairs(spark, SF_DIR)

    def run(forced):
        analytics._FORCE_LP_PATH = forced
        try:
            return getattr(analytics, op)(
                pairs, top_k=top_k, min_common=2, max_degree=100
            ).collect()
        finally:
            analytics._FORCE_LP_PATH = None

    assert run("intersect") == run("wedge")


def test_lp_broadcast_bytes_match_budget(spark, monkeypatch):
    """The CSR scorer broadcasts 25m + 16n + 8 bytes for n canonical
    edges over m nodes: the byte budget written next to
    ``_WEDGE_BROADCAST_MAX_EDGES``."""
    from akka_graph_db_spark.operators import analytics

    sc = spark.sparkContext
    captured = []
    broadcast = sc.broadcast

    def capture(value):
        captured.append(value)
        return broadcast(value)

    monkeypatch.setattr(sc, "broadcast", capture)
    monkeypatch.setattr(analytics, "_FORCE_LP_PATH", "intersect")
    # a reversed duplicate and a self-loop canonicalize away: n = 7
    # canonical edges over m = 7 nodes
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 1), (10, 11),
         (2, 1), (4, 4)],
        "a bigint, b bigint",
    )
    analytics.link_prediction_jaccard(pairs, min_common=1).collect()
    (value,) = captured
    *arrays, _bound = value
    n, m = 7, 7
    assert sum(x.nbytes for x in arrays) == 25 * m + 16 * n + 8


def test_link_prediction_intersect_bipartite_mode(spark):
    """endpoints_below (bipartite projection) agreement between paths."""
    from akka_graph_db_spark.operators import analytics

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    offset = 1_000_000
    bip = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("o_custkey").alias("a"),
        (F.col("l_partkey") + offset).alias("b"),
    )

    def run(forced):
        analytics._FORCE_LP_PATH = forced
        try:
            return analytics.link_prediction_jaccard(
                bip,
                top_k=20,
                min_common=2,
                max_degree=100,
                endpoints_below=offset,
            ).collect()
        finally:
            analytics._FORCE_LP_PATH = None

    assert run("intersect") == run("wedge")


def test_version_diff_fused_matches_joined(spark, tmp_path):
    """The fused single-aggregation version_diff must match the general
    two-load join path row for row across a multi-delta chain with
    tombstone + re-add + prop-churn, for every (v_old <= v_new) pair;
    and a cross-compaction pair must route to the joined path."""
    from akka_graph_db_spark import store
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import crud

    def mkgraph(node_rows, edge_rows):
        nodes = spark.createDataFrame(
            node_rows, "id bigint, label string, props string"
        ).selectExpr(
            "id", "label", "from_json(props, 'map<string,string>') AS props"
        )
        edges = spark.createDataFrame(
            edge_rows,
            "id bigint, label string, src bigint, dst bigint, props string",
        ).selectExpr(
            "id", "label", "src", "dst",
            "from_json(props, 'map<string,string>') AS props",
        )
        return PropertyGraph(nodes, edges)

    g0 = mkgraph(
        [(1, "a", '{"x":"1"}'), (2, "a", "{}"), (3, "b", "{}")],
        [(10, "e", 1, 2, "{}"), (11, "e", 2, 3, "{}")],
    )
    # v1: update 1, remove 3 (cascades edge 11), add 4
    g1 = crud.update_nodes(g0, {1: {"x": "2"}})
    g1 = crud.remove_nodes_by_id(g1, [3])
    g1 = crud.add_nodes(g1, [(4, "a", {})])
    # v2: re-add 3 (tombstone then re-add), remove 4, churn 1 back
    g2 = crud.add_nodes(g1, [(3, "b", {"y": "9"})])
    g2 = crud.remove_nodes_by_id(g2, [4])
    g2 = crud.update_nodes(g2, {1: {"x": "1"}})

    root = str(tmp_path / "vdf")
    store.save_snapshot(g0, root)
    store.save_delta(root, store.delta_from_graphs(g0, g1), validate=False)
    store.save_delta(root, store.delta_from_graphs(g1, g2), validate=False)

    rows = lambda df: [  # noqa: E731
        (r["kind"], r["id"], r["change"]) for r in df.collect()
    ]
    kinds = dict(store.list_version_kinds(root, spark))
    for vo in (0, 1, 2):
        for vn in (vo, vo + 1, 2):
            if vn > 2:
                continue
            fused = store._version_diff_fused(
                root, 0, vo, vn, kinds, spark
            )
            joined = store._version_diff_joined(root, vo, vn, spark)
            assert rows(fused) == rows(joined), (vo, vn)
            # the public entry must agree too (it picks the fused path)
            assert rows(store.version_diff(root, vo, vn, spark)) == rows(
                joined
            ), (vo, vn)
    # v0 -> v1 vs g0/g1 ground truth: 1 updated, 3+11 removed, 4 added
    got = rows(store.version_diff(root, 0, 1, spark))
    assert ("node", 1, "updated") in got and ("node", 4, "added") in got
    # compaction: a new base above v2 forces cross-base pairs onto the
    # joined path (different base chains)
    store.compact(root)  # v3 = base
    got_x = rows(store.version_diff(root, 1, 3, spark))
    want_x = rows(store._version_diff_joined(root, 1, 3, spark))
    assert got_x == want_x

