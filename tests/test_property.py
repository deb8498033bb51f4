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


# -- near-dup keep family == union-find closure over exact Jaccard ------------

def _closure_components(texts, t):
    """Components of the exact token-set Jaccard >= t graph, replayed with
    a plain union-find, as a set of frozensets of doc ids."""
    sets = {i: set(text.split()) for i, text in texts.items()}
    parent = {i: i for i in sets}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    ids = sorted(sets)
    for n, a in enumerate(ids):
        for b in ids[n + 1:]:
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t:
                parent[find(a)] = find(b)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


# five Spark pipelines per example: about 5 s an example on 4 cores
@settings(max_examples=6, deadline=None)
@given(
    token_lists=docs_strategy,
    copies=st.lists(st.integers(0, 6), max_size=3),
    scores=st.lists(st.integers(0, 2), min_size=10, max_size=10),
    t=st.sampled_from([0.5, 0.75, 0.9]),
)
@example(
    # chain 0-1-2 (J = 0.6 per link, 0.33 end to end) and the exact-dup
    # group {3, 4, 5} whose best score (2, shared by 4 and 5) is not on
    # its min id
    token_lists=[["a", "b", "c", "d"], ["b", "c", "d", "e"],
                 ["c", "d", "e", "f"], ["a", "f"]],
    copies=[3, 3],
    scores=[0, 2, 1, 0, 2, 2, 0, 0, 0, 0],
    t=0.5,
)
def test_keep_family_matches_closure_replay(token_lists, copies, scores, t):
    """Every reduction over the near-dup substrate (exact-dup collapse,
    LSH, verify, connected components) equals the same reduction over a
    union-find closure of the exact Jaccard >= t pairs: min-id and
    max-score survivors, the multi-policy survivors, the cluster-size
    histogram and the removal manifest. Exact copies are planted under
    new ids, and scores in 0..2 tie. With num_perm = bands = 32 a pair
    at J >= t is missed with probability <= (1 - t)**32."""
    from collections import Counter

    from akka_graph_db_spark.functions import dedup

    spark = _SPARK["s"]
    texts = {i: " ".join(toks) for i, toks in enumerate(token_lists)}
    n = len(texts)
    for k, j in enumerate(copies):
        texts[n + k] = texts[j % n]
    df = spark.createDataFrame(
        [(i, text, scores[i]) for i, text in texts.items()],
        "doc_id bigint, text string, score int",
    )
    kw = dict(threshold=t, num_perm=32, bands=32, shingle_n=1)

    comps = _closure_components(texts, t)
    want = {
        "min_id": {min(c) for c in comps},
        "best": {max(c, key=lambda i: (scores[i], -i)) for c in comps},
    }
    sizes = Counter(len(c) for c in comps)
    want_hist = {s: (k, s * k) for s, k in sizes.items()}
    want_manifest = {(min(c), i) for c in comps for i in c if i != min(c)}

    def ids(frame):
        return {r["doc_id"] for r in frame.collect()}

    assert ids(dedup.minhash_dedup_keep(df, **kw)) == want["min_id"]
    assert ids(
        dedup.minhash_dedup_keep(
            df, keep="max_score", score_col="score", **kw
        )
    ) == want["best"]
    multi = {}
    for r in dedup.minhash_dedup_keep_multi(
        df, policies={"min_id": None, "best": "score"}, **kw
    ).collect():
        multi.setdefault(r["policy"], set()).add(r["doc_id"])
    assert multi == want
    assert {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup.dedup_cluster_stats(df, **kw).collect()
    } == want_hist
    assert {
        (r["survivor_id"], r["removed_id"])
        for r in dedup.dedup_manifest(df, **kw).collect()
    } == want_manifest


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


# -- one-plan mutation fold == plain sequential replay -----------------------

_REPLAY_NODES = list(range(1, 9))  # 1..6 are in the pre-image
_REPLAY_EDGES = list(range(50, 57))  # 50..54 are in the pre-image
_OPS = ("add", "update", "remove")
_CHANGES = ({"k": '"x"'}, {"k": "null"}, {"j": '"y"'})

# (kind, op, id, change, src, dst): any op on any id of a small universe,
# so commands on dead ids, edges to dead endpoints and re-adds all occur
replay_cmd_strategy = st.one_of(
    st.tuples(
        st.just("node"),
        st.sampled_from(_OPS),
        st.sampled_from(_REPLAY_NODES),
        st.integers(0, 2),
        st.none(),
        st.none(),
    ),
    st.tuples(
        st.just("edge"),
        st.sampled_from(_OPS),
        st.sampled_from(_REPLAY_EDGES),
        st.integers(0, 2),
        st.sampled_from(_REPLAY_NODES),
        st.sampled_from(_REPLAY_NODES),
    ),
)


def _replay_rows(batches):
    """MUTATION_SCHEMA rows per batch, seq numbered across batches."""
    seq, out = 0, []
    for batch in batches:
        rows = []
        for kind, op, i, change, src, dst in batch:
            seq += 1
            label = props = None
            if op == "add":
                label = ("n", "r")[change % 2] if kind == "node" else "e"
                props = {"k" if kind == "node" else "w": f'"{seq}"'}
            elif op == "update":
                props = _CHANGES[change]
            if kind == "node" or op != "add":
                src = dst = None
            rows.append((seq, op, kind, i, label, src, dst, props))
        out.append(rows)
    return out


def _replay(nodes, edges, rows):
    """Apply ``rows`` one by one, in seq order, to the dicts ``nodes``
    (id -> (label, props)) and ``edges`` (id -> (label, src, dst, props)):
    add sets the row (an edge only if both endpoints exist, else the id
    is left absent), update merges into a live row (a "null" value
    deletes the key), and a node remove cascades to its edges."""

    def merge(props, changes):
        merged = {**props, **changes}
        return {k: v for k, v in merged.items() if v != "null"}

    for seq, op, kind, i, label, src, dst, props in sorted(rows):
        table = nodes if kind == "node" else edges
        if op == "add" and kind == "node":
            nodes[i] = (label, props)
        elif op == "add":
            edges.pop(i, None)
            if src in nodes and dst in nodes:
                edges[i] = (label, src, dst, props)
        elif op == "update" and i in table:
            *head, old = table[i]
            table[i] = (*head, merge(old, props))
        elif op == "remove" and i in table:
            del table[i]
            if kind == "node":
                for e in [e for e, v in edges.items() if i in v[1:3]]:
                    del edges[e]


# every example folds one or two batches (a few seconds each), so four
# drawn examples plus the explicit one that covers every adversarial order
@settings(max_examples=4, deadline=None)
@given(
    batches=st.lists(
        st.lists(replay_cmd_strategy, min_size=1, max_size=12),
        min_size=1,
        max_size=2,
    )
)
@example(
    batches=[
        [
            ("node", "add", 7, 0, None, None),  # add -> remove -> add
            ("node", "remove", 7, 0, None, None),
            ("node", "add", 7, 1, None, None),
            ("edge", "add", 55, 0, 7, 8),  # before its endpoint's add
            ("node", "add", 8, 0, None, None),
            ("node", "remove", 5, 0, None, None),
            ("edge", "add", 56, 0, 1, 5),  # after its endpoint's removal
            ("node", "remove", 2, 0, None, None),  # cascades 50 and 51
            ("edge", "update", 50, 0, None, None),  # after the cascade
            ("node", "remove", 4, 0, None, None),  # pre-image edge 53 ...
            ("node", "add", 4, 0, None, None),  # ... stays gone
            ("node", "update", 4, 1, None, None),
            ("edge", "add", 52, 0, 7, 1),  # a live id: replaced
            ("node", "update", 7, 2, None, None),
            ("edge", "remove", 54, 0, None, None),
            ("edge", "update", 52, 1, None, None),
        ],
        [
            ("edge", "add", 54, 0, 1, 7),  # re-add of a removed id
            ("node", "update", 2, 0, None, None),  # dead: no-op
            ("edge", "remove", 55, 0, None, None),  # dead: no-op
            ("node", "remove", 5, 0, None, None),  # dead: no-op
            ("edge", "add", 53, 0, 4, 6),
            ("node", "add", 1, 1, None, None),  # a live id: edges stay
            ("edge", "add", 56, 0, 7, 2),  # endpoint dead: stays absent
            ("edge", "add", 52, 0, 3, 2),  # live id, dead endpoint: gone
        ],
    ]
)
def test_mutation_fold_matches_plain_replay(batches):
    """``apply_mutation_batch`` folds every batch to exactly the graph a
    plain sequential replay of its commands gives: MATCH-first at each
    edge add, the DETACH cascade of each node remove, and no-ops on dead
    ids, under any interleaving of ops and kinds."""
    from akka_graph_db_spark.streaming.fold import (
        MUTATION_SCHEMA,
        apply_mutation_batch,
    )

    spark = _SPARK["s"]
    g = build(spark, [])
    g = crud.add_edges(
        g, [(e, "e", s, d, {"w": 0}) for e, (s, d) in _BASE_EDGES.items()]
    )

    def state(g):
        return (
            {r["id"]: (r["label"], r["props"]) for r in g.nodes.collect()},
            {
                r["id"]: (r["label"], r["src"], r["dst"], r["props"])
                for r in g.edges.collect()
            },
        )

    nodes, edges = state(g)
    for rows in _replay_rows(batches):
        batch = spark.createDataFrame(rows, MUTATION_SCHEMA)
        g = apply_mutation_batch(g, batch)
        g = PropertyGraph(g.nodes.localCheckpoint(), g.edges.localCheckpoint())
        _replay(nodes, edges, rows)
        assert state(g) == (nodes, edges), rows


# -- version_diff: fused single aggregation == two loads joined ---------------

_DIFF_NODE_IDS = NODE_IDS[:5]
_DIFF_EDGE_IDS = [100, 101, 102, 103]

# one delta: upserted nodes (id -> (label, k)), deleted node ids, upserted
# edges (id -> (src, dst, w)), deleted edge ids; an id may be both
# upserted and deleted, as save_delta(validate=False) allows
delta_strategy = st.tuples(
    st.dictionaries(
        st.sampled_from(_DIFF_NODE_IDS),
        st.tuples(st.sampled_from(["n", "m"]), st.integers(0, 2)),
        max_size=3,
    ),
    st.sets(st.sampled_from(_DIFF_NODE_IDS), max_size=2),
    st.dictionaries(
        st.sampled_from(_DIFF_EDGE_IDS),
        st.tuples(
            st.sampled_from(_DIFF_NODE_IDS),
            st.sampled_from(_DIFF_NODE_IDS),
            st.integers(0, 1),
        ),
        max_size=2,
    ),
    st.sets(st.sampled_from(_DIFF_EDGE_IDS), max_size=2),
)


# every example diffs each version pair twice (up to 20 Spark jobs), so
# two drawn chains plus the explicit one with same-delta upsert+delete ties
@settings(max_examples=2, deadline=None)
@given(chain=st.lists(delta_strategy, min_size=1, max_size=3))
@example(
    chain=[
        ({1: ("m", 1), 2: ("n", 0)}, {1, 3}, {100: (2, 1, 1)}, {100, 101}),
        ({1: ("n", 2)}, {2}, {102: (1, 1, 0)}, set()),
    ]
)
def test_version_diff_fused_matches_joined_on_random_chains(chain):
    """For every version pair on one base chain, the fused
    ``version_diff`` path returns the same manifest as the two-load
    joined path, including ids upserted and deleted in one delta, and
    both equal the manifest of a plain replay of the chain in which a
    delete beats an upsert of the same delta."""
    import os
    import tempfile

    from akka_graph_db_spark import store

    spark = _SPARK["s"]
    base = build(spark, [(1, 2), (2, 3)])  # edges 100 and 101

    def nodes(rows):
        return spark.createDataFrame(
            [(i, label, {"k": str(k)}) for i, (label, k) in rows.items()],
            "id bigint, label string, props map<string,string>",
        )

    def edges(rows):
        return spark.createDataFrame(
            [(i, "e", s, d, {"w": str(w)}) for i, (s, d, w) in rows.items()],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        )

    def id_frame(id_set):
        return spark.createDataFrame(
            [(i,) for i in sorted(id_set)], "id bigint"
        )

    def rows(df):
        return [(r["kind"], r["id"], r["change"]) for r in df.collect()]

    # the replay: per version, kind -> id -> row
    states = [
        {
            "node": {i: ("n", f"v{i}") for i in NODE_IDS},
            "edge": {100: (1, 2, None), 101: (2, 3, None)},
        }
    ]
    for n_up, n_del, e_up, e_del in chain:
        state = {k: dict(v) for k, v in states[-1].items()}
        for i, (label, k) in n_up.items():
            state["node"][i] = (label, str(k))
        for i, (src, dst, w) in e_up.items():
            state["edge"][i] = (src, dst, str(w))
        for kind, dels in (("node", n_del), ("edge", e_del)):
            for i in dels:
                state[kind].pop(i, None)
        states.append(state)

    def replayed(i_old, i_new):
        out = []
        for kind in ("edge", "node"):
            old, new = states[i_old][kind], states[i_new][kind]
            for i in old.keys() | new.keys():
                if i not in old:
                    out.append((kind, i, "added"))
                elif i not in new:
                    out.append((kind, i, "removed"))
                elif old[i] != new[i]:
                    out.append((kind, i, "updated"))
        return sorted(out)

    with tempfile.TemporaryDirectory() as tmp:
        root = os.path.join(tmp, "chain")
        store.save_snapshot(base, root)
        for n_up, n_del, e_up, e_del in chain:
            store.save_delta(
                root,
                store.GraphDelta(
                    nodes(n_up), edges(e_up), id_frame(n_del), id_frame(e_del)
                ),
                validate=False,
            )
        kinds = dict(store.list_version_kinds(root, spark))
        assert sorted(kinds) == list(range(len(chain) + 1))
        for v_old in kinds:
            for v_new in range(v_old, len(chain) + 1):
                fused = rows(
                    store._version_diff_fused(
                        root, 0, v_old, v_new, kinds, spark
                    )
                )
                joined = rows(
                    store._version_diff_joined(root, v_old, v_new, spark)
                )
                assert fused == joined, (v_old, v_new)
                assert sorted(fused) == replayed(v_old, v_new), (v_old, v_new)


# -- fixed-round loops (rank and label families) == plain-Python replay ------

# a graph is (n, edges, sources, seeds): nodes 10..10n, edges drawn with
# repeats (parallel edges) and a == b (self-loops); a node no edge names
# is isolated, one with no out-edge is dangling
fixed_round_graph_strategy = st.integers(1, 12).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(
                st.integers(1, n),
                st.integers(1, n),
                st.sampled_from([None, 0.0, 0.5, 1.0, 3.0]),
            ),
            max_size=20,
        ),
        st.sets(st.integers(1, n), min_size=1, max_size=3),
        st.dictionaries(
            st.integers(1, n), st.sampled_from(["x", "y", "z"]), max_size=4
        ),
    )
)


def _rank_replay(nodes, edges, n_iter, reset=None, d=0.85):
    """PageRank's fixed rounds (GraphX convention: uniform teleport,
    dangling mass spread over all nodes), or with ``reset`` the
    personalized variant whose teleport and dangling mass return to the
    reset vector. ``edges`` are (a, b, weight)."""
    out = dict.fromkeys(nodes, 0.0)
    for a, _, w in edges:
        out[a] += w
    rank = {v: (reset[v] if reset else 1.0) for v in nodes}
    for _ in range(n_iter):
        recv = dict.fromkeys(nodes, 0.0)
        for a, b, w in edges:
            if out[a] > 0:
                recv[b] += rank[a] * w / out[a]
        dang = sum(rank[v] for v in nodes if out[v] == 0)
        rank = {
            v: (1 - d) + d * (recv[v] + dang / len(nodes))
            if reset is None
            else (1 - d) * reset[v] + d * (recv[v] + dang * reset[v])
            for v in nodes
        }
    return rank


def _undirected_neighbours(edges):
    nbrs = {}
    for a, b, _ in edges:
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    return nbrs


def _majority(labels):
    """Most frequent label, ties to the smallest."""
    from collections import Counter

    c = Counter(labels)
    return min(c, key=lambda k: (-c[k], k))


@settings(max_examples=3, deadline=None)
@given(
    graph=fixed_round_graph_strategy,
    n_iter=st.integers(1, 5),
    max_len=st.integers(1, 4),
)
@example(
    # dangling 10, isolated 60, parallel 20->30, self-loop 40, a zero
    # weight out of 50 (weighted-dangling), a checkpoint-round n_iter,
    # and a tie at 10 (neighbours 20 and 30, labels y and x)
    graph=(
        6,
        [(2, 3, 1.0), (2, 3, None), (3, 1, 0.5), (4, 4, 3.0), (3, 4, None),
         (5, 2, 0.0), (2, 1, None)],
        {1, 4},
        {2: "y", 3: "x", 6: "z"},
    ),
    n_iter=3,
    max_len=3,
)
def test_fixed_round_loops_match_python_replay(graph, n_iter, max_len):
    """pagerank (unweighted and weighted), personalized_pagerank,
    katz_centrality, label_propagation and seeded_label_propagation
    equal plain-Python replays of their rounds on random graphs with
    dangling and isolated nodes, parallel edges and self-loops: floats
    to 1e-9 relative, integers and labels exactly."""
    import math

    from pyspark.sql import functions as F

    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    n, drawn, sources, seed_draw = graph
    nodes = [10 * i for i in range(1, n + 1)]
    weighted = [(10 * a, 10 * b, w) for a, b, w in drawn]
    unit = [(a, b, 1.0) for a, b, _ in weighted]
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [(v, "n", {}) for v in nodes],
            "id bigint, label string, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [
                (k, "e", a, b, {} if w is None else {"w": str(w)})
                for k, (a, b, w) in enumerate(weighted)
            ],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    pairs = g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))

    def close(got, want):
        assert got.keys() == want.keys()
        for v, x in want.items():
            assert math.isclose(got[v], x, rel_tol=1e-9), (v, got[v], x)

    def ranks(df):
        return {r["id"]: r["rank"] for r in df.collect()}

    close(
        ranks(analytics.pagerank(g, n_iter=n_iter)),
        _rank_replay(nodes, unit, n_iter),
    )
    with_w = [(a, b, 1.0 if w is None else w) for a, b, w in weighted]
    close(
        ranks(analytics.pagerank(g, n_iter=n_iter, weight="w")),
        _rank_replay(nodes, with_w, n_iter),
    )
    src = sorted(10 * s for s in sources)
    reset = {v: (1.0 / len(src) if v in src else 0.0) for v in nodes}
    close(
        ranks(analytics.personalized_pagerank(g, src, n_iter=n_iter)),
        _rank_replay(nodes, unit, n_iter, reset=reset),
    )

    nbrs = _undirected_neighbours(weighted)
    x, walks = dict.fromkeys(nbrs, 1), []
    for _ in range(max_len):
        x = {v: sum(x[u] for u in nbrs[v]) for v in nbrs}
        walks.append(x)
    want_katz = {
        (
            v,
            *(w[v] for w in walks),
            sum(w[v] * 1000 ** (max_len - l) for l, w in enumerate(walks, 1)),
        )
        for v in nbrs
    }
    katz = analytics.katz_centrality(pairs, max_len=max_len, beta_permille=1)
    assert {tuple(r) for r in katz.collect()} == want_katz

    comm = {v: v for v in nodes}
    for _ in range(n_iter):
        comm = {
            v: _majority(comm[u] for u in nbrs[v]) if v in nbrs else comm[v]
            for v in nodes
        }
    lpa = analytics.label_propagation(g.nodes.select("id"), pairs, n_iter)
    assert {r["id"]: r["community"] for r in lpa.collect()} == comm

    seeds = {10 * i: lab for i, lab in seed_draw.items()}
    label = {v: seeds.get(v) for v in nbrs}
    for _ in range(n_iter):
        label = {
            v: seeds.get(v)
            or (
                _majority(label[u] for u in nbrs[v] if label[u] is not None)
                if any(label[u] is not None for u in nbrs[v])
                else label[v]
            )
            for v in nbrs
        }
    want_seeded = {
        (v, lab, v in seeds) for v, lab in label.items() if lab is not None
    }
    seed_df = spark.createDataFrame(
        sorted(seeds.items()), "id bigint, label string"
    )
    seeded = analytics.seeded_label_propagation(pairs, seed_df, n_iter)
    assert {tuple(r) for r in seeded.collect()} == want_seeded


# -- frontier and convergence loops == plain-Python replay --------------------


def _min_plus(arcs, start, rounds):
    """``rounds`` rounds of min-plus relaxation over (a, b, w) arcs from
    ``start`` (node -> tuple whose first field is the cost): the min over
    walks of at most ``rounds`` arcs. Values compare as tuples, so a
    (cost, seed) value relaxes with the seed tiebreak."""
    dist = dict(start)
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in arcs:
            if a in dist:
                cand = (dist[a][0] + w, *dist[a][1:])
                if b not in nxt or cand < nxt[b]:
                    nxt[b] = cand
        dist = nxt
    return dist


def _union_find_components(nodes, edges):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b, _ in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


@settings(max_examples=3, deadline=None)
@given(graph=fixed_round_graph_strategy, rounds=st.integers(1, 4))
@example(
    # isolated 60, self-loop 30, parallel 30-40, a zero weight 40-50,
    # and a (cost, seed) tie at 20 between seeds 10 and 30
    graph=(
        6,
        [(1, 2, None), (3, 2, None), (3, 3, 3.0), (3, 4, 0.5), (4, 3, 1.0),
         (4, 5, 0.0)],
        {1, 3},
        {},
    ),
    rounds=3,
)
def test_frontier_loops_match_python_replay(graph, rounds):
    """connected components, shortest_paths (hop and weighted, directed
    and undirected), landmark_hop_distances, neighborhood_function,
    weighted_nearest_seed and weighted_landmark_costs equal plain-Python
    replays on random graphs with isolated nodes, self-loops and
    parallel edges: a union-find, bounded Bellman-Ford, BFS, all-pairs
    BFS and bounded min-plus with the (cost, seed) tiebreak."""
    from pyspark.sql import functions as F

    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    n, drawn, sources, _ = graph
    nodes = [10 * i for i in range(1, n + 1)]
    weighted = [(10 * a, 10 * b, w) for a, b, w in drawn]
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [(v, "n", {}) for v in nodes],
            "id bigint, label string, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [
                (k, "e", a, b, {} if w is None else {"w": str(w)})
                for k, (a, b, w) in enumerate(weighted)
            ],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    pairs = g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    src = sorted(10 * s for s in sources)

    comp = analytics.connected_components_from_pairs(
        g.nodes.select("id"), pairs
    )
    assert {r.id: r.component for r in comp.collect()} == (
        _union_find_components(nodes, weighted)
    )

    for weight in (None, "w"):
        arcs = [
            (a, b, 1.0 if weight is None or w is None else w)
            for a, b, w in weighted
        ]
        for directed in (True, False):
            both = arcs if directed else arcs + [(b, a, w) for a, b, w in arcs]
            want = _min_plus(both, {s: (0.0,) for s in src}, rounds)
            got = analytics.shortest_paths(
                g, src, weight=weight, directed=directed, max_hops=rounds
            )
            assert {r.id: (r.dist,) for r in got.collect()} == want, (
                weight, directed,
            )

    # the undirected loops run on the canonical edges: no self-loops
    nbrs = _undirected_neighbours(weighted)
    hops = [(a, b, 1) for a in nbrs for b in nbrs[a]]
    want_hops = {
        (lm, v, d[0])
        for lm in src
        for v, d in _min_plus(hops, {lm: (0,)}, rounds).items()
    }
    got_hops = analytics.landmark_hop_distances(pairs, src, max_depth=rounds)
    assert {tuple(r) for r in got_hops.collect()} == want_hops

    ball = {u: _min_plus(hops, {u: (0,)}, len(nbrs)) for u in nbrs}
    n_r = [
        sum(d[0] <= r for u in nbrs for d in ball[u].values())
        for r in range(rounds + 1)
    ]
    want_nf = {
        (r, n_r[r], n_r[r] - (n_r[r - 1] if r else 0))
        for r in range(rounds + 1)
    }
    nf = analytics.neighborhood_function(pairs, max_radius=rounds)
    assert {tuple(r) for r in nf.collect()} == want_nf

    # positive integer costs; the canonical edge keeps the cheapest
    cost = {None: 1, 0.0: 1, 0.5: 2, 1.0: 3, 3.0: 7}
    wpairs = spark.createDataFrame(
        [(a, b, cost[w]) for a, b, w in weighted], "a bigint, b bigint, w bigint"
    )
    cheapest = {}
    for a, b, w in weighted:
        if a != b:
            key = (min(a, b), max(a, b))
            cheapest[key] = min(cheapest.get(key, cost[w]), cost[w])
    warcs = [(a, b, w) for (a, b), w in cheapest.items()]
    warcs += [(b, a, w) for a, b, w in warcs]
    nearest = _min_plus(warcs, {s: (0, s) for s in src}, rounds)
    got_ns = analytics.weighted_nearest_seed(wpairs, src, max_rounds=rounds)
    assert {tuple(r) for r in got_ns.collect()} == {
        (v, s, c) for v, (c, s) in nearest.items() if v in nbrs
    }
    want_lc = {
        (v, lm, c[0])
        for lm in src
        for v, c in _min_plus(warcs, {lm: (0,)}, rounds).items()
        if v in nbrs
    }
    got_lc = analytics.weighted_landmark_costs(wpairs, src, max_rounds=rounds)
    assert {tuple(r) for r in got_lc.collect()} == want_lc


def _bfs_layers(nbrs, s, max_depth):
    """Hop layers of a BFS from ``s`` over ``nbrs``, at most
    ``max_depth`` hops: layer d holds the nodes first reached at d."""
    layers, seen = [[s]], {s}
    while len(layers) <= max_depth:
        nxt = sorted({w for v in layers[-1] for w in nbrs.get(v, ())} - seen)
        if not nxt:
            break
        layers.append(nxt)
        seen.update(nxt)
    return layers


def _brandes_replay(nbrs, landmarks, max_depth):
    """Bounded Brandes from each landmark: per-node betweenness (nodes
    with a positive score) and per-canonical-edge dependency sums."""
    node, edge = {}, {}
    for s in landmarks:
        layers = _bfs_layers(nbrs, s, max_depth)
        sigma = {s: 1}
        for d in range(1, len(layers)):
            for w in layers[d]:
                sigma[w] = sum(sigma[v] for v in layers[d - 1] if w in nbrs[v])
        delta = dict.fromkeys(sigma, 0.0)
        for d in range(len(layers) - 1, 0, -1):
            for w in layers[d]:
                for v in layers[d - 1]:
                    if w in nbrs[v]:
                        c = sigma[v] / sigma[w] * (1.0 + delta[w])
                        delta[v] += c
                        key = (min(v, w), max(v, w))
                        edge[key] = edge.get(key, 0.0) + c
        for v, x in delta.items():
            if v != s and x > 0:
                node[v] = node.get(v, 0.0) + x
    return node, edge


def _hits_replay(nodes, arcs, n_iter):
    """Kleinberg's iteration with L1 normalization after every
    half-step; a zero total leaves the vector unscaled."""

    def l1(x):
        tot = sum(x.values()) or 1.0
        return {v: s / tot for v, s in x.items()}

    hub = dict.fromkeys(nodes, 1.0)
    for _ in range(n_iter):
        auth = dict.fromkeys(nodes, 0.0)
        for a, b in arcs:
            auth[b] += hub[a]
        auth = l1(auth)
        hub = dict.fromkeys(nodes, 0.0)
        for a, b in arcs:
            hub[a] += auth[b]
        hub = l1(hub)
    return hub, auth


@settings(max_examples=3, deadline=None)
@given(
    graph=fixed_round_graph_strategy,
    k=st.integers(1, 4),
    n_iter=st.integers(1, 4),
)
@example(
    # a 4-cycle 10-20-30-40 (two shortest paths 10 -> 30), a pendant 50,
    # a self-loop 60, parallel 20->30 and 30->20, isolated 70
    graph=(
        7,
        [(1, 2, None), (2, 3, None), (3, 4, None), (4, 1, None),
         (4, 5, None), (6, 6, None), (2, 3, None), (3, 2, None)],
        {1, 3},
        {},
    ),
    k=3,
    n_iter=3,
)
def test_last_frontier_loops_match_python_replay(graph, k, n_iter):
    """khop_neighbors (directed and undirected), betweenness_landmarks
    (node and edge level), connected_components_two_phase and hits
    equal plain-Python replays on random graphs with isolated nodes,
    self-loops and parallel edges: a k-hop BFS, a bounded Brandes, a
    union-find and Kleinberg's power iteration (floats to 1e-9
    relative, the rest exactly)."""
    import math

    from pyspark.sql import functions as F

    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    n, drawn, sources, _ = graph
    nodes = [10 * i for i in range(1, n + 1)]
    arcs = [(10 * a, 10 * b) for a, b, _ in drawn]
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [(v, "n", {}) for v in nodes],
            "id bigint, label string, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(i, "e", a, b, {}) for i, (a, b) in enumerate(arcs)],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    pairs = g.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))

    def close(got, want):
        assert got.keys() == want.keys()
        for key, x in want.items():
            assert math.isclose(got[key], x, rel_tol=1e-9), (key, got[key], x)

    for directed in (True, False):
        out = {}
        for a, b in arcs + ([] if directed else [(b, a) for a, b in arcs]):
            out.setdefault(a, set()).add(b)
        want = {
            (u, v)
            for u in out
            for layer in _bfs_layers(out, u, k)[1:]
            for v in layer
        }
        got = analytics.khop_neighbors(g, k, directed=directed)
        assert {tuple(r) for r in got.collect()} == want, directed

    # int landmarks: the len(sources) lowest ids with a non-loop edge
    nbrs = _undirected_neighbours([(a, b, None) for a, b in arcs])
    landmarks = sorted(nbrs)[: len(sources)]
    want_node, want_edge = _brandes_replay(nbrs, landmarks, k)
    bn = analytics.betweenness_landmarks(pairs, len(sources), max_depth=k)
    close({r.id: r.betweenness for r in bn.collect()}, want_node)
    be = analytics.betweenness_landmarks(
        pairs, len(sources), max_depth=k, level="edge"
    )
    close({(r.a, r.b): r.edge_betweenness for r in be.collect()}, want_edge)

    comp = analytics.connected_components_two_phase(
        g.nodes.select("id"), pairs
    )
    assert {r.id: r.component for r in comp.collect()} == (
        _union_find_components(nodes, [(a, b, None) for a, b in arcs])
    )

    hub, auth = _hits_replay(nodes, arcs, n_iter)
    got = analytics.hits(g, n_iter=n_iter).collect()
    close({r.id: r.hub for r in got}, hub)
    close({r.id: r.authority for r in got}, auth)


# -- peeling and fixpoint loops == plain-Python replay ------------------------


def _md5_hex(s):
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def _md5_63(s):
    """functions.hashing.md5_63: the first 8 digest bytes, little-endian,
    sign bit masked."""
    import hashlib

    digest = hashlib.md5(s.encode()).digest()
    return int.from_bytes(digest[:8], "little") & 0x7FFFFFFFFFFFFFFF


def _peel_replays(nodes, nbrs, arcs, k, rounds):
    """Expected rows of the eight peeling and fixpoint operators. ``nbrs``
    is the simple undirected graph (no self-loops, no parallel edges),
    ``arcs`` the directed (a, b) pairs as drawn."""
    from collections import Counter

    # kcore: peel every vertex below k until the kept set is stable
    keep = set(nbrs)
    while True:
        deg = {v: len(nbrs[v] & keep) for v in keep}
        kept = {v for v in keep if deg[v] >= k}
        if kept == keep:
            break
        keep = kept
    want = {"kcore": {(v, deg[v]) for v in keep}}

    # coreness: Batagelj-Zaversnik, remove a minimum-degree vertex
    deg = {v: len(nbrs[v]) for v in nbrs}
    left, core, shell = set(nbrs), {}, 0
    while left:
        v = min(left, key=lambda u: (deg[u], u))
        shell = max(shell, deg[v])
        core[v] = shell
        left.remove(v)
        for u in nbrs[v] & left:
            deg[u] -= 1
    want["coreness"] = set(core.items())

    # ktruss (k + 1 >= 3): drop edges in fewer than k - 1 triangles
    edges = {(a, b) for a in nbrs for b in nbrs[a] if a < b}
    while True:
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        kept = {e for e in edges if sup[e] >= k - 1}
        if kept == edges:
            break
        edges = kept
    want["ktruss"] = {(a, b, sup[a, b]) for a, b in edges}

    # transitive_closure: BFS over the directed arcs, paths of >= 1 arc
    out = {}
    for a, b in arcs:
        out.setdefault(a, set()).add(b)
    closure = set()
    for u in out:
        seen, todo = set(), list(out[u])
        while todo:
            v = todo.pop()
            if v not in seen:
                seen.add(v)
                todo.extend(out.get(v, ()))
        closure |= {(u, v) for v in seen}
    want["transitive_closure"] = closure

    # dag_layers: longest path with every edge oriented a < b
    layer = {}
    for v in nodes:  # ascending ids are a topological order
        preds = [min(a, b) for a, b in arcs if min(a, b) < v == max(a, b)]
        layer[v] = 1 + max(layer[a] for a in preds) if preds else 0
    per_layer = Counter(
        ("odd" if v % 20 else "even", l) for v, l in layer.items()
    )
    want["dag_layers"] = {(*key, n) for key, n in per_layer.items()}

    # wl_color_histogram: md5 of own color | sorted neighbor colors
    color = {v: str(len(nbrs[v])) for v in nbrs}
    for _ in range(rounds):
        color = {
            v: _md5_hex(
                color[v] + "|" + ",".join(sorted(color[u] for u in nbrs[v]))
            )
            for v in nbrs
        }
    hist = Counter(color.values())
    want["wl_color_histogram"] = sorted(
        hist.items(), key=lambda cn: (-cn[1], cn[0])
    )[:20]

    # maximal_matching: per round, every live edge whose md5 key is the
    # minimum at both endpoints; matched endpoints leave the graph
    live = {(a, b): _md5_hex(f"{a}:{b}") for a, b in
            ((a, b) for a in nbrs for b in nbrs[a] if a < b)}
    matched = []
    for r in range(1, rounds + 1):
        vmin = {}
        for (a, b), key in live.items():
            for v in (a, b):
                vmin[v] = min(vmin.get(v, key), key)
        sel = [e for e, key in live.items() if vmin[e[0]] == vmin[e[1]] == key]
        matched += [(a, b, r) for a, b in sel]
        gone = {v for e in sel for v in e}
        live = {e: key for e, key in live.items() if not set(e) & gone}
    want["maximal_matching"] = sorted(matched)

    # greedy_coloring: Jones-Plassmann on (degree desc, md5_63, id) keys,
    # each winner takes the smallest color absent around it
    colors, r = {}, 0
    while len(colors) < len(nodes):
        def key(v):
            return (-len(nbrs.get(v, ())), _md5_63(f"{v}:{r}:color"), v)

        unc = [v for v in nodes if v not in colors]
        won = [
            v for v in unc
            if all(key(v) < key(u) for u in nbrs.get(v, ()) if u not in colors)
        ]
        for v in won:
            used = {colors[u] for u in nbrs.get(v, ()) if u in colors}
            colors[v] = min(c for c in range(1, r + 3) if c not in used)
        r += 1
    want["greedy_coloring"] = set(colors.items())
    return want


# eight operators per example, a few seconds each on 4 cores
@settings(max_examples=3, deadline=None)
@given(
    graph=fixed_round_graph_strategy,
    k=st.integers(2, 3),
    rounds=st.integers(1, 4),
)
@example(
    # triangle 10-20-30 with pendant 40, self-loop 50, parallel edges
    # 50-60 (twice, and once reversed), isolated 70
    graph=(
        7,
        [(1, 2, None), (2, 3, None), (3, 1, None), (3, 4, None),
         (5, 5, None), (5, 6, None), (5, 6, None), (6, 5, None)],
        {1},
        {},
    ),
    k=2,
    rounds=2,
)
def test_peel_loops_match_python_replay(graph, k, rounds):
    """kcore, coreness, ktruss, transitive_closure, dag_layers,
    wl_color_histogram, maximal_matching and greedy_coloring equal
    plain-Python replays on random graphs with isolated nodes,
    self-loops and parallel edges: repeated peeling,
    Batagelj-Zaversnik, triangle-support peeling, BFS, longest path on
    the a<b orientation, and hashlib replays of the md5 keys."""
    from pyspark.sql import functions as F

    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    n, drawn, _, _ = graph
    nodes = [10 * i for i in range(1, n + 1)]
    arcs = [(10 * a, 10 * b) for a, b, _ in drawn]
    pairs = spark.createDataFrame(arcs, "a bigint, b bigint")
    nbrs = _undirected_neighbours([(a, b, None) for a, b in arcs])
    want = _peel_replays(nodes, nbrs, arcs, k, rounds)

    def rows(df):
        return {tuple(r) for r in df.collect()}

    assert rows(analytics.kcore(pairs, k)) == want["kcore"]
    assert rows(analytics.coreness(pairs)) == want["coreness"]
    assert rows(analytics.ktruss(pairs, k + 1)) == want["ktruss"]
    assert rows(analytics.transitive_closure(pairs)) == (
        want["transitive_closure"]
    )
    node_df = spark.createDataFrame(
        [(v, "odd" if v % 20 else "even") for v in nodes],
        "id bigint, label string",
    )
    dag = pairs.select(
        F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
    ).where(F.col("src") < F.col("dst"))
    assert rows(analytics.dag_layers(node_df, dag)) == want["dag_layers"]
    wl = analytics.wl_color_histogram(pairs, rounds=rounds)
    assert [tuple(r) for r in wl.collect()] == want["wl_color_histogram"]
    mm = analytics.maximal_matching(pairs, rounds=rounds)
    assert [tuple(r) for r in mm.collect()] == want["maximal_matching"]
    gc = analytics.greedy_coloring(
        pairs, node_df.select("id"), max_rounds=len(nodes) + 1
    )
    assert rows(gc) == want["greedy_coloring"]


lp_graph_strategy = st.integers(3, 12).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(st.integers(1, n), st.integers(1, n)), max_size=24
        ),
        # hub 100 adjacent to nodes 1..h; pendants 200, 201, ... each
        # on one drawn node
        st.integers(0, n),
        st.lists(st.integers(1, n), max_size=3),
    )
)


def _lp_replay(nbrs, score, top_k, min_common, cap, below):
    """Plain-Python common-neighbour link prediction: every centre x of
    degree <= cap (and >= ``below`` in bipartite mode) credits each
    pair of its neighbors u < v (both < ``below``) with 1 common
    neighbor and 1000000 // deg(x) ppm; non-adjacent pairs with
    >= min_common ranked by (score desc, common desc, a, b)."""
    deg = {v: len(ns) for v, ns in nbrs.items()}
    if cap == "auto":
        # smallest degree covering ceil(0.999 * n) nodes, floored at 64
        degs = sorted(deg.values())
        need = -(-999 * len(degs) // 1000)
        cap = max(degs[need - 1] if degs else 0, 64)
    acc = {}
    for x, ns in nbrs.items():
        if (cap is not None and deg[x] > cap) or (
            below is not None and x < below
        ):
            continue
        for u in ns:
            for v in ns:
                if u < v and (below is None or v < below):
                    c, w = acc.get((u, v), (0, 0))
                    acc[(u, v)] = (c + 1, w + 1000000 // deg[x])
    rows = []
    for (u, v), (c, w) in acc.items():
        if c < min_common or v in nbrs[u]:
            continue
        if score == "jaccard":
            rows.append((u, v, c, c / (deg[u] + deg[v] - c)))
        else:
            rows.append((u, v, w, c))
    if score == "jaccard":
        rows.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    else:
        rows.sort(key=lambda r: (-r[2], -r[3], r[0], r[1]))
    return rows[:top_k]


# twelve operator calls per example, about 12 s each on 4 cores
@settings(max_examples=3, deadline=None)
@given(
    graph=lp_graph_strategy,
    cap=st.integers(1, 4),
    below=st.integers(2, 12),
    min_common=st.integers(1, 2),
    top_k=st.sampled_from([2, 50]),
)
@example(
    # triangle 1-2-3 and square 3-4-5-6 with a chord, a self-loop, a
    # reversed duplicate, hub 100 on 1..6 and pendants on 2 and 5
    graph=(
        6,
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 3), (4, 6),
         (2, 2), (2, 1)],
        6,
        [2, 5],
    ),
    cap=3,
    below=4,
    min_common=1,
    top_k=2,
)
def test_link_prediction_paths_match_common_neighbour_replay(
    graph, cap, below, min_common, top_k
):
    """Both link-prediction operators, forced onto the broadcast-CSR
    path and onto the wedge path, equal a plain-Python common-neighbour
    replay on random graphs with a hub, pendants, self-loops and
    duplicate edges: Jaccard with no cap, an int cap, "auto" and
    ``endpoints_below``; resource allocation with no cap and an int
    cap. Ties at the top-k cut are common, so ``top_k`` is small too."""
    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    n, drawn, hub_deg, pendants = graph
    arcs = list(drawn)
    arcs += [(100, v) for v in range(1, hub_deg + 1)]
    arcs += [(200 + i, v) for i, v in enumerate(pendants)]
    pairs = spark.createDataFrame(arcs, "a bigint, b bigint")
    nbrs = _undirected_neighbours([(a, b, None) for a, b in arcs])
    runs = [
        ("jaccard", None, None),
        ("jaccard", cap, None),
        ("jaccard", "auto", None),
        ("jaccard", None, below),
        ("ra_ppm", None, None),
        ("ra_ppm", cap, None),
    ]
    try:
        for score, max_degree, endpoints_below in runs:
            want = _lp_replay(
                nbrs, score, top_k, min_common, max_degree, endpoints_below
            )
            for forced in ("intersect", "wedge"):
                analytics._FORCE_LP_PATH = forced
                if score == "jaccard":
                    df = analytics.link_prediction_jaccard(
                        pairs, top_k, min_common, max_degree,
                        endpoints_below,
                    )
                else:
                    df = analytics.link_prediction_resource_allocation(
                        pairs, top_k, min_common, max_degree
                    )
                got = [tuple(r) for r in df.collect()]
                assert got == want, (score, max_degree, endpoints_below,
                                     forced)
    finally:
        analytics._FORCE_LP_PATH = None
