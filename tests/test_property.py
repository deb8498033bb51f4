"""Property-based tests (SURVEY.md §5.3) — randomized small graphs, seeded
by hypothesis; few examples because every example is a Spark job."""

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import DataFrame

from akka_graph_db_spark.model import (
    EDGE_CORE_COLS,
    NODE_CORE_COLS,
    PropertyGraph,
    prop_str,
)
from akka_graph_db_spark.operators import crud, scan, traverse

NODE_IDS = list(range(1, 7))

edges_strategy = st.lists(
    st.tuples(
        st.sampled_from(NODE_IDS), st.sampled_from(NODE_IDS)
    ),
    min_size=0,
    max_size=10,
    unique=True,
)

_SPARK = {}


@pytest.fixture(scope="module", autouse=True)
def _bind_session(spark):
    _SPARK["s"] = spark


def build(spark, edge_pairs):
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [], "id bigint, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    g = crud.add_nodes(g, [(i, "n", {"k": f"v{i}"}) for i in NODE_IDS])
    g = crud.add_edges(
        g,
        [
            (100 + i, "e", a, b, {})
            for i, (a, b) in enumerate(edge_pairs)
        ],
    )
    return PropertyGraph(
        g.nodes.localCheckpoint(eager=True),
        g.edges.localCheckpoint(eager=True),
    )


@settings(max_examples=8, deadline=None)
@given(edge_pairs=edges_strategy)
def test_add_then_remove_roundtrip(edge_pairs):
    spark = _SPARK["s"]
    g = build(spark, edge_pairs)
    g2 = crud.add_nodes(g, [(99, "tmp", {})])
    g2 = crud.add_edges(g2, [(999, "tmp_e", 99, 1, {})])
    g3 = crud.remove_nodes_by_id(g2, [99])  # cascades to 999
    assert sorted(r["id"] for r in g3.nodes.collect()) == sorted(
        r["id"] for r in g.nodes.collect()
    )
    assert sorted(r["id"] for r in g3.edges.collect()) == sorted(
        r["id"] for r in g.edges.collect()
    )


@settings(max_examples=8, deadline=None)
@given(edge_pairs=edges_strategy)
def test_paths_shape_invariants(edge_pairs):
    spark = _SPARK["s"]
    g = build(spark, edge_pairs)
    adj = {}
    for a, b in edge_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = traverse.paths_to(g, 1, 5, max_depth=3).collect()
    for r in rows:
        p = r["node_path"]
        assert p[0] == 1 and p[-1] == 5
        assert len(set(p)) == len(p)  # vertex-unique
        assert len(p) - 1 == r["depth"] <= 3
        for x, y in zip(p, p[1:]):  # edge-connected (undirected)
            assert y in adj.get(x, set())


@settings(max_examples=6, deadline=None)
@given(
    key=st.sampled_from(["k", "new"]),
    value=st.one_of(st.none(), st.integers(-5, 5), st.text("ab", max_size=3)),
)
def test_update_none_never_leaves_key(key, value):
    spark = _SPARK["s"]
    g = build(spark, [(1, 2)])
    g2 = crud.update_nodes(g, {1: {key: value}})
    props = scan.get_node(g2, 1).collect()[0]["props"]
    if value is None:
        assert key not in props
    else:
        assert key in props




@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[1],
    )
)
def test_global_rank_equals_single_partition_row_number(rows):
    """global_rank's distributed range-partition + offset construction
    must equal ROW_NUMBER over the same total order, for any data —
    including empty input, heavy ties on the first key, and more
    requested partitions than rows."""
    from akka_graph_db_spark.functions.ranking import global_rank
    from pyspark.sql import functions as F

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows or [], "k int, uid long")
    got = {
        r["uid"]: r["rank"]
        for r in global_rank(
            df, [F.col("k").desc(), "uid"], n_partitions=7
        ).collect()
    }
    expected_order = sorted(rows, key=lambda t: (-t[0], t[1]))
    expected = {uid: i + 1 for i, (_, uid) in enumerate(expected_order)}
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 7),
)
def test_ntile_distributed_matches_sql_semantics(rows, k):
    """ntile_distributed must reproduce SQL-standard NTILE for any data
    and tile count: the first n%k tiles get ceil(n/k) rows, the rest
    floor(n/k) — including n < k (one row per tile) and empty input."""
    from akka_graph_db_spark.functions.ranking import ntile_distributed
    from pyspark.sql import functions as F

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows or [], "k int, uid long")
    got = {
        r["uid"]: r["tile"]
        for r in ntile_distributed(
            df, k, [F.col("k").desc(), "uid"]
        ).collect()
    }
    order = sorted(rows, key=lambda t: (-t[0], t[1]))
    n = len(order)
    q, r = divmod(n, k)
    expected = {}
    pos = 0
    for tile in range(1, k + 1):
        size = q + (1 if tile <= r else 0)
        for _ in range(size):
            if pos < n:
                expected[order[pos][1]] = tile
                pos += 1
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=0,
        max_size=30,
    )
)
def test_ktruss_invariant_every_edge_supported(edges):
    """For any random graph, every edge surviving the 3-truss must have
    >= 1 triangle among SURVIVORS, and the survivor set is identical
    across partitionings (fixpoint self-consistency)."""
    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(1, 2)],
        "a bigint, b bigint",
    )
    surv = [
        (r["a"], r["b"], r["support"])
        for r in analytics.ktruss(pairs, k=3).collect()
    ]
    eset = {(a, b) for a, b, _ in surv}
    nbrs = {}
    for a, b in eset:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for a, b, sup in surv:
        tri = len(nbrs[a] & nbrs[b])
        assert tri == sup and sup >= 1
    again = {
        (r["a"], r["b"])
        for r in analytics.ktruss(pairs.repartition(5), k=3).collect()
    }
    assert again == eset


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 15), st.integers(1, 15)),
        min_size=0,
        max_size=30,
    )
)
def test_mis_invariant_independent_and_maximal(edges):
    """For any random graph, the Luby MIS is independent and maximal."""
    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    clean = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        clean or [(1, 2)], "a bigint, b bigint"
    )
    mis = {
        r["id"]
        for r in analytics.maximal_independent_set(pairs).collect()
    }
    adj = {}
    for a, b in clean or [(1, 2)]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in mis:
        assert not (adj.get(v, set()) & mis)
    for v in set(adj) - mis:
        assert adj[v] & mis


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=1,
        max_size=8,
    ),
    min_size=2,
    max_size=7,
)


@settings(max_examples=8, deadline=None)
@given(token_lists=docs_strategy, t=st.sampled_from([0.5, 0.75, 0.9]))
def test_containment_join_lossless(token_lists, t):
    """The containment prefix filter must be LOSSLESS for any corpus and
    threshold: containment_join == brute-force over all ordered pairs of
    distinct-token sets."""
    from akka_graph_db_spark.functions import dedup

    spark = _SPARK["s"]
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["a_id"], r["b_id"], r["n_a"], r["n_b"], r["n_common"])
        for r in dedup.containment_join(df, threshold=t).collect()
    )
    sets = {i: set(toks) for i, toks in enumerate(token_lists)}
    want = sorted(
        (a, b, len(sets[a]), len(sets[b]), len(sets[a] & sets[b]))
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= t
    )
    assert got == want


# -- durable streaming fold: slice path == whole-graph fold -------------------

_FOLD_CMDS = (
    "add_node", "add_edge", "update_node", "update_edge",
    "remove_node", "remove_edge",
    "add_then_remove",  # a fresh node added and removed in one batch
    "remove_then_readd",  # an existing node removed, its id added back
    "node_then_edge",  # an edge to a node added earlier in the batch
)
_BASE_EDGES = {50: (1, 2), 51: (2, 3), 52: (3, 1), 53: (4, 4), 54: (1, 5)}

# a batch is a list of (command, pick, change, flag) draws; _mutation_log
# turns the draws into commands on ids that exist at that point
mutation_log_strategy = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(_FOLD_CMDS),
            st.integers(0, 99),
            st.integers(0, 2),
            st.booleans(),
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=2,
    max_size=3,
)


def _mutation_log(draws):
    """MUTATION_SCHEMA rows per batch for the abstract ``draws``."""
    nodes = set(NODE_IDS)
    edges = dict(_BASE_EDGES)
    seq, fresh = iter(range(1, 10**6)), iter(range(100, 10**6))
    batches = []
    for batch in draws:
        rows = []

        def emit(op, kind, i, label=None, src=None, dst=None, props=None):
            rows.append((next(seq), op, kind, i, label, src, dst, props))

        def drop_node(n):
            emit("remove", "node", n)
            nodes.discard(n)
            for e in [e for e, ends in edges.items() if n in ends]:
                del edges[e]

        def add_node(n, label="n"):
            emit("add", "node", n, label, props={"k": f'"{n}"'})
            nodes.add(n)

        def add_edge(src, dst):
            e = next(fresh)
            emit("add", "edge", e, "e", src, dst, {"w": '"0"'})
            edges[e] = (src, dst)

        for cmd, pick, change, flag in batch:
            ns, es = sorted(nodes), sorted(edges)
            n = ns[pick % len(ns)] if ns else None
            e = es[pick % len(es)] if es else None

            def update(kind, i, key):
                # set a key, delete it with a JSON null, or a no-op delete
                props = ({key: f'"{pick}"'}, {key: "null"}, {"gone": "null"})
                emit("update", kind, i, props=props[change])

            if cmd == "add_node" or n is None:
                add_node(next(fresh))
            elif cmd == "add_edge":
                add_edge(n, ns[(pick * 7 + change) % len(ns)])
            elif cmd == "update_node":
                update("node", n, "k")
            elif cmd == "update_edge" and e is not None:
                update("edge", e, "w")
            elif cmd == "remove_node":
                drop_node(n)
            elif cmd == "remove_edge" and e is not None:
                emit("remove", "edge", e)
                del edges[e]
            elif cmd == "add_then_remove":
                fresh_id = next(fresh)
                add_node(fresh_id)
                drop_node(fresh_id)
            elif cmd == "remove_then_readd":
                drop_node(n)
                add_node(n, label="r")
            elif cmd == "node_then_edge":
                fresh_id = next(fresh)
                add_node(fresh_id)
                if flag:
                    add_edge(fresh_id, n)
                else:
                    add_edge(n, fresh_id)
        batches.append(rows)
    return batches


def _rows(**frames):
    """Sorted (frame name, row as JSON) pairs of all ``frames`` in one
    Spark job; props compare as sorted entry arrays."""
    from functools import reduce

    from pyspark.sql import functions as F

    tagged = [
        df.select(
            F.lit(name).alias("t"),
            F.to_json(
                F.struct(
                    *[
                        F.array_sort(F.map_entries(c)).alias(c)
                        if c == "props"
                        else c
                        for c in df.columns
                    ]
                )
            ).alias("j"),
        )
        for name, df in frames.items()
    ]
    return sorted(tuple(r) for r in reduce(DataFrame.union, tagged).collect())


def _graph_rows(g):
    return _rows(
        nodes=g.nodes.select(*NODE_CORE_COLS),
        edges=g.edges.select(*EDGE_CORE_COLS),
    )


def _delta_rows(d):
    return _rows(
        node_upserts=d.node_upserts.select(*NODE_CORE_COLS),
        edge_upserts=d.edge_upserts.select(*EDGE_CORE_COLS),
        node_deletes=d.node_deletes.select("id"),
        edge_deletes=d.edge_deletes.select("id"),
    )


def _stored_delta_rows(spark, root, v):
    """The rows of delta version ``v``, read back from its files."""
    import os

    from akka_graph_db_spark import store

    def read(name, schema):
        return spark.read.schema(schema).parquet(
            os.path.join(root, f"v={v}", name)
        )

    return _delta_rows(
        store.GraphDelta(
            read("nodes_upserts", store.NODE_SCHEMA),
            read("edges_upserts", store.EDGE_SCHEMA),
            read("node_deletes", "id bigint"),
            read("edge_deletes", "id bigint"),
        )
    )


# every example folds its log four times (about a minute on 4 cores), so
# three drawn examples plus the explicit one that covers every command
@settings(max_examples=3, deadline=None)
@given(draws=mutation_log_strategy)
@example(
    draws=[
        [
            ("node_then_edge", 1, 0, True),
            ("update_node", 2, 1, False),
            ("update_edge", 0, 2, True),
            ("add_then_remove", 0, 0, False),
        ],
        [
            ("remove_node", 0, 0, False),
            ("remove_then_readd", 1, 0, False),
            ("update_node", 3, 2, False),
            ("add_edge", 2, 1, False),
            ("remove_edge", 1, 0, False),
        ],
        [("update_edge", 3, 0, False), ("remove_node", 4, 0, False)],
    ]
)
def test_durable_fold_matches_whole_graph_fold(draws):
    """Every version a durable fold persists loads equal to the
    whole-graph ``apply_mutation_batch`` fold at that point, and every
    delta equals ``delta_from_graphs`` of the states around it, for
    ``store_every`` in {1, 2} and ``compact_every`` in {None, 2}."""
    import os
    import tempfile

    from akka_graph_db_spark import store
    from akka_graph_db_spark.streaming.fold import (
        MUTATION_SCHEMA,
        StreamingGraphFold,
        apply_mutation_batch,
    )

    spark = _SPARK["s"]
    base = build(spark, [])
    base = crud.add_edges(
        base,
        [(e, "e", s, d, {"w": 0}) for e, (s, d) in _BASE_EDGES.items()],
    )
    batches = [
        spark.createDataFrame(rows, MUTATION_SCHEMA).localCheckpoint()
        for rows in _mutation_log(draws)
    ]
    states = [base]  # the whole-graph fold after i batches
    for b in batches:
        g = apply_mutation_batch(states[-1], b)
        states.append(
            PropertyGraph(g.nodes.localCheckpoint(), g.edges.localCheckpoint())
        )
    want = [_graph_rows(g) for g in states]
    diffs = {}

    with tempfile.TemporaryDirectory() as tmp:
        for store_every in (1, 2):
            for compact_every in (None, 2):
                root = os.path.join(tmp, f"s{store_every}c{compact_every}")
                store.save_snapshot(base, root)
                fold = StreamingGraphFold(
                    store.load_snapshot(spark, root),
                    store_root=root,
                    store_every=store_every,
                    compact_every=compact_every,
                )
                at = {0: 0}  # version -> batches folded into it
                for i, b in enumerate(batches, 1):
                    fold.step(b, i)
                    for v in store.list_versions(root, spark):
                        at.setdefault(v, i)
                assert _graph_rows(fold.graph) == want[-1]
                kinds = dict(store.list_version_kinds(root, spark))
                for v, i in sorted(at.items()):
                    got = store.load_snapshot(spark, root, version=v)
                    assert _graph_rows(got) == want[i], (v, i)
                    if kinds[v] == "delta":
                        pair = (at[v - 1], i)
                        if pair not in diffs:
                            diffs[pair] = _delta_rows(
                                store.delta_from_graphs(
                                    states[pair[0]], states[i]
                                )
                            )
                        assert (
                            _stored_delta_rows(spark, root, v) == diffs[pair]
                        ), (v, pair)
