"""Round-9 regression tests for the r8 ADVICE fixes.

Each test pins a specific defect the round-8 audit flagged:
zero-match streaming dedup, label-noise k clamp + int64 sentinel,
degenerate-partition ARI, zero-token-source concentration parity,
and the budget_trim bucket decomposition (the latter lives in
test_round8b next to the original semantics test).
"""

import duckdb
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ zero-match stream dedup
def test_streaming_cross_dedup_zero_matches(spark, tmp_path):
    """A stream with ZERO duplicates is a normal case: no batch ever
    appends, out_path never exists, and run() must return an empty
    typed frame instead of raising AnalysisException (ADVICE r8)."""
    from akka_graph_db_spark.streaming.ingest import StreamingCrossDedup

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(11, "totally unrelated words here")],
        "doc_id bigint, text string",
    )
    src = str(tmp_path / "src")
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    xd = StreamingCrossDedup(base, threshold=0.9)
    try:
        got = xd.run(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        assert got.count() == 0
        assert got.columns == ["new_id", "base_id", "jaccard_sim"]
    finally:
        xd.close()


# --------------------------------------------------- label-noise k clamp
def test_label_noise_knn_k_exceeds_candidates_raises(spark):
    """With self-matches masked there are only n-1 candidates; a larger
    k would count sentinel rows as disagreements (ADVICE r8)."""
    from akka_graph_db_spark.functions.similarity import label_noise_knn

    rows = [(i, [float(i), 0.0], i % 2) for i in range(3)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="n-1"):
        label_noise_knn(df, k=3)
    # k = n-1 is the maximum legal value and must run
    out = label_noise_knn(df, k=2).collect()
    assert sum(r.n_vectors for r in out) == 3


# ----------------------------------------------------- degenerate ARI
def test_ari_degenerate_single_label_is_one(spark):
    """k=1 cluster x 1 ground-truth label: maxi == expected, the raw
    formula is 0/0 — ARI is conventionally 1.0 for identical trivial
    partitions (ADVICE r8; the oracle carries the same guard)."""
    from akka_graph_db_spark.functions.similarity import (
        clustering_label_agreement,
    )

    rows = [(i, [1.0, 2.0], 7) for i in range(4)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    row = clustering_label_agreement(df, k=1, n_iter=1).collect()[0]
    assert row.n_clusters == 1 and row.n_labels == 1
    assert row.ari == 1.0


# ------------------------------------- zero-token source concentration
def test_source_concentration_zero_token_source_parity(spark, tmp_path):
    """A source whose documents are ALL zero-token must appear with
    (total_tokens=0, docs_to_target=0) in BOTH the engine and the
    DuckDB oracle — the r8 oracle's crossing-bucket WHERE silently
    dropped it (ADVICE r8)."""
    import __spark_entry__ as entrymod
    from akka_graph_db_spark.functions.text import source_concentration

    rows = [
        (1, "alpha beta gamma", "A"),
        (2, "delta", "A"),
        (3, "", "E"),
        (4, "   ", "E"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {
        (r.source, r.n_docs, r.total_tokens, r.docs_to_target,
         r.top_doc_share_permille)
        for r in source_concentration(df).collect()
    }
    assert ("E", 2, 0, 0, 0) in got

    pq = str(tmp_path / "documents.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
    )
    want = set(
        map(tuple, con.execute(
            entrymod.oracle_sql()["source_concentration"]
        ).fetchall())
    )
    assert got == want


# ------------------------------------------- DSIR-style importance
def test_importance_scores_rank_in_domain_likeness(spark):
    """Background docs sharing the target's vocabulary must outscore
    background docs that don't; scores are exact integers."""
    from akka_graph_db_spark.functions.mixture import importance_scores

    rows = [
        (1, "quantum physics quantum theory", "T"),
        (2, "quantum mechanics physics", "T"),
        (3, "quantum physics paper", "B"),      # in-domain-like
        (4, "cooking recipes and pasta", "B"),  # off-domain
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    from pyspark.sql import functions as SF

    out = {
        r.doc_id: r
        for r in importance_scores(
            df, target=SF.col("source") == "T"
        ).collect()
    }
    assert out[1].is_target and not out[3].is_target
    assert out[3].score > out[4].score
    assert isinstance(out[3].score, int)
    # every off-domain token carries a NEGATIVE background-share weight
    assert out[4].score < 0

    with pytest.raises(ValueError, match="n_buckets"):
        importance_scores(df, target=SF.col("source") == "T", n_buckets=0)


# ------------------------------------------------ edge betweenness
def test_edge_betweenness_bridge_dominates(spark):
    """Two triangles joined by one bridge: Girvan-Newman edge
    betweenness must rank the bridge first (every cross-module
    shortest path uses it), and a path graph's scores must match the
    hand-computed sums."""
    from akka_graph_db_spark.operators.analytics import (
        betweenness_landmarks,
    )

    tri2 = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(tri2, "a bigint, b bigint")
    out = betweenness_landmarks(
        df, landmarks=6, max_depth=3, level="edge"
    ).collect()
    top = max(out, key=lambda r: r.edge_betweenness)
    assert (top.a, top.b) == (3, 4)

    # P3 path 1-2-3, all landmarks, exact: each edge carries the
    # 2 one-hop walks (1 each) + the 2 two-hop walks (1 each) = 4...
    # concretely: from s=1 edge(1,2) gets 1+delta(2)=2, edge(2,3) 1;
    # from s=2 each edge 1; from s=3 symmetric -> (1,2)=4, (2,3)=4
    p3 = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    got = {
        (r.a, r.b): r.edge_betweenness
        for r in betweenness_landmarks(
            p3, landmarks=3, max_depth=3, level="edge"
        ).collect()
    }
    assert got == {(1, 2): 4.0, (2, 3): 4.0}

    with pytest.raises(ValueError, match="level"):
        betweenness_landmarks(p3, level="both")


# ------------------------------------------------- onion layers
def test_onion_layers_hand_computed(spark):
    """Triangle {1,2,3} + pendant 4: wave 1 peels the pendant at k=1,
    wave 2 peels the whole triangle at k=2. Star 1-(2,3,4): the hub
    survives wave 1 but becomes ISOLATED — it must still get a layer
    (wave 2, coreness 1), the case a pure edge-frame loop drops."""
    from akka_graph_db_spark.operators.analytics import onion_layers

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "a bigint, b bigint"
    )
    got = {
        r.id: (r.layer, r.coreness)
        for r in onion_layers(tri).collect()
    }
    assert got == {4: (1, 1), 1: (2, 2), 2: (2, 2), 3: (2, 2)}

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "a bigint, b bigint"
    )
    got = {
        r.id: (r.layer, r.coreness)
        for r in onion_layers(star).collect()
    }
    assert got == {2: (1, 1), 3: (1, 1), 4: (1, 1), 1: (2, 1)}

    with pytest.raises(RuntimeError, match="waves"):
        onion_layers(tri, max_waves=1)


# ----------------------------------------------- induced subgraph
def test_induced_subgraph_nesting_and_induction(spark):
    """Same-salt samples NEST across permille levels, a kept edge's
    endpoints are both kept nodes, and permille 1000 keeps the whole
    canonical graph."""
    from akka_graph_db_spark.operators.analytics import (
        canonical_undirected,
        induced_subgraph_sample,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a in range(1, 30) for b in range(a + 1, 30)
         if (a * b) % 3 == 0],
        "a bigint, b bigint",
    )
    full = {(r.a, r.b) for r in canonical_undirected(pairs).collect()}
    s250 = {
        (r.a, r.b)
        for r in induced_subgraph_sample(pairs, 250).collect()
    }
    s500 = {
        (r.a, r.b)
        for r in induced_subgraph_sample(pairs, 500).collect()
    }
    s1000 = {
        (r.a, r.b)
        for r in induced_subgraph_sample(pairs, 1000).collect()
    }
    assert s250 <= s500 <= s1000 == full
    assert len(s250) < len(s500) < len(full)
    # different salt -> a different (independent) draw
    other = {
        (r.a, r.b)
        for r in induced_subgraph_sample(pairs, 500, salt="x").collect()
    }
    assert other != s500
    with pytest.raises(ValueError, match="keep_permille"):
        induced_subgraph_sample(pairs, 1001)


# -------------------------------------------- streaming histogram
def test_streaming_histogram_merge_equals_batch(spark, tmp_path):
    """Bin counts add across micro-batches: the streamed histogram is
    bit-identical to one batch GROUP BY over the same rows; an empty
    stream yields an empty typed frame."""
    from akka_graph_db_spark.functions.profile import fixed_bin_histogram
    from akka_graph_db_spark.streaming.sketch import StreamingHistogram

    vals = [(float(v),) for v in (-9, -1, 0, 3, 7.5, 8, 15.99, 16, 100)]
    df = spark.createDataFrame(vals, "value double")
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    h = StreamingHistogram(value_col="value", bin_width=8.0)
    got = {
        (r.bin, r.cnt)
        for r in h.run(stream, str(tmp_path / "ckpt")).collect()
    }
    want = {
        (r.bin, r.cnt) for r in fixed_bin_histogram(df, "value").collect()
    }
    assert got == want and h.batches_applied == 3
    assert want == {
        (-2, 1), (-1, 1), (0, 3), (1, 2), (2, 1), (12, 1),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bin_width"):
        fixed_bin_histogram(df, "value", bin_width=0)


# -------------------------------------------- semantic decontamination
def test_embedding_decontamination_finds_planted_leak(spark):
    from akka_graph_db_spark.functions.dedup import (
        embedding_decontamination,
    )

    train = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    eval_df = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]),      # exact leak of train 1
         (101, [0.5, 0.5, 0.7071])],  # no near neighbor
        "vec_id bigint, embedding array<float>",
    )
    out = embedding_decontamination(train, eval_df, threshold=0.95).collect()
    assert [(r.eval_id, r.train_id) for r in out] == [(100, 1)]
    assert abs(out[0].cosine_sim - 1.0) < 1e-9


# ------------------------------------------------------- nearest seed
def test_nearest_seed_voronoi_tiebreak(spark):
    """Path 1-2-3-4-5 with seeds {1, 5}: node 3 is 2 hops from both —
    the tiebreak must pick the SMALLER seed id."""
    from akka_graph_db_spark.operators.analytics import nearest_seed

    p5 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    got = {
        r.id: (r.seed, r.dist)
        for r in nearest_seed(p5, seeds=[1, 5], max_depth=4).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (5, 1), 5: (5, 0),
    }


# --------------------------------------------------- balanced shards
def test_balanced_shards_round_robin_balance(spark):
    """16 docs with sizes 16..1 into 4 shards: round-robin over the
    DESC order gives every shard 4 docs and token sums within one
    band-spread of each other; the assignment is the exact modulo of
    the global rank."""
    from akka_graph_db_spark.functions.mixture import balanced_shards

    rows = [(i, "w " * (16 - i), "s") for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = balanced_shards(df, n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    sums = {s: sum(r._tokens for r in v) for s, v in by_shard.items()}
    assert all(len(v) == 4 for v in by_shard.values())
    # sizes 16..1 round-robin: shard k gets 16-k, 12-k, 8-k, 4-k
    assert sums == {0: 40, 1: 36, 2: 32, 3: 28}
    with pytest.raises(ValueError, match="n_shards"):
        balanced_shards(df, n_shards=0)


# ------------------------------------------------ tokenizer fertility
def test_tokenizer_fertility_integer_ratios(spark):
    from akka_graph_db_spark.functions.text import tokenizer_fertility

    rows = [
        # 2 ws tokens, ceil(5/4)*2 = 4 bpe units
        (1, "hello world", "prose"),
        # 1 ws token, ceil(20/4) = 5 bpe units
        (2, "internationalization", "prose"),
        (3, "", "empty"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {r.source: r for r in tokenizer_fertility(df).collect()}
    p = got["prose"]
    assert (p.ws_tokens, p.bpe_tokens, p.chars) == (3, 9, 31)
    assert p.fertility_permille == 9 * 1000 // 3
    assert p.chars_per_bpe_permille == 31 * 1000 // 9
    e = got["empty"]
    assert (e.ws_tokens, e.bpe_tokens, e.fertility_permille) == (0, 0, 0)


# ------------------------------------------- neighborhood function
def test_neighborhood_function_path_graph(spark):
    """P4 path 1-2-3-4: N(0)=4, N(1)=4+2*3=10, N(2)=10+4=14,
    N(3)=16=|V|^2, then plateau (the short-circuit keeps emitting
    plateau rows up to max_radius)."""
    from akka_graph_db_spark.operators.analytics import (
        neighborhood_function,
    )

    p4 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a bigint, b bigint"
    )
    got = {
        r.r: (r.n_pairs, r.new_pairs)
        for r in neighborhood_function(p4, max_radius=5).collect()
    }
    assert got == {
        0: (4, 4), 1: (10, 6), 2: (14, 4), 3: (16, 2),
        4: (16, 0), 5: (16, 0),
    }
    with pytest.raises(ValueError, match="max_radius"):
        neighborhood_function(p4, max_radius=-1)


# ------------------------------- unpersist hygiene (superstep loops, bowtie)
def _cached_rdd_ids(spark):
    """Ids of the persisted RDDs that are not localCheckpoint blocks,
    i.e. frames an operator persisted and did not release. Checkpoint
    blocks stay until the ContextCleaner reclaims them, so they are
    left out; the tests diff ids, not counts, because the cleaner may
    reclaim OTHER tests' frames between two measurements."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(k)
        for k in rdds.keySet().toArray()
        if not rdds.get(k).rdd().isLocallyCheckpointed()
    }


@pytest.mark.parametrize(
    "call",
    [
        "pagerank",
        "pagerank_weighted",
        "pagerank_empty_graph",
        "personalized_pagerank",
        "label_propagation",
        "seeded_label_propagation",
        "katz_centrality",
        "shortest_paths",
        "landmark_hop_distances",
        "neighborhood_function",
        "hyperanf",
        "weighted_nearest_seed",
        "weighted_landmark_costs",
        "kcore",
        "kcore_max_iter_recount",
        "coreness",
        "coreness_not_converged",
        "ktruss",
        "dag_layers",
        "dag_layers_cycle",
        "transitive_closure",
        "wl_color_histogram",
        "maximal_matching",
        "greedy_coloring",
        "greedy_coloring_overrun",
        "khop_neighbors",
        "khop_neighbors_past_depth",
        "betweenness_landmarks",
        "edge_betweenness_landmarks",
        "connected_components_two_phase",
        "hits",
        "hits_one_iteration",
    ],
)
def test_superstep_loops_release_their_caches(spark, call):
    """Every operator on the superstep driver releases what it
    persisted, on every path, including pagerank on an empty graph,
    which returns before its first round, the peeling loops that
    recount or raise once their round budget runs out, a k-hop BFS
    that runs out of frontier before k, and hits with no loop round."""
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import analytics as an

    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]

    def graph(node_ids, edge_list):
        return PropertyGraph(
            nodes=spark.createDataFrame(
                [(i, "n", {}) for i in node_ids],
                "id bigint, label string, props map<string,string>",
            ),
            edges=spark.createDataFrame(
                [
                    (k, "e", a, b, {"w": "2"})
                    for k, (a, b) in enumerate(edge_list)
                ],
                "id bigint, label string, src bigint, dst bigint,"
                " props map<string,string>",
            ),
        )

    g = graph(range(1, 6), edges)
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    wpairs = spark.createDataFrame(
        [(a, b, a + b) for a, b in edges], "a bigint, b bigint, w bigint"
    )
    seeds = spark.createDataFrame([(1, "x")], "id bigint, label string")
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "a bigint, b bigint"
    )
    dag = graph(range(1, 6), [(1, 2), (2, 3), (1, 3), (3, 4)])
    path40 = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "a bigint, b bigint"
    )
    runs = {
        "pagerank": lambda: an.pagerank(g, n_iter=4),
        "pagerank_weighted": lambda: an.pagerank(g, n_iter=4, weight="w"),
        "pagerank_empty_graph": lambda: an.pagerank(graph([], [])),
        "personalized_pagerank": lambda: an.personalized_pagerank(
            g, [1], n_iter=4
        ),
        "label_propagation": lambda: an.label_propagation(
            g.nodes.select("id"), pairs, n_iter=4
        ),
        "seeded_label_propagation": lambda: an.seeded_label_propagation(
            pairs, seeds, rounds=2
        ),
        "katz_centrality": lambda: an.katz_centrality(pairs, max_len=2),
        "shortest_paths": lambda: an.shortest_paths(g, [1], weight="w"),
        "landmark_hop_distances": lambda: an.landmark_hop_distances(
            pairs, [1, 4]
        ),
        "neighborhood_function": lambda: an.neighborhood_function(pairs),
        "hyperanf": lambda: an.hyperanf(pairs),
        "weighted_nearest_seed": lambda: an.weighted_nearest_seed(
            wpairs, [1]
        ),
        "weighted_landmark_costs": lambda: an.weighted_landmark_costs(
            wpairs, [1, 4]
        ),
        "kcore": lambda: an.kcore(pairs, k=2),
        "kcore_max_iter_recount": lambda: an.kcore(pairs, k=2, max_iter=1),
        "coreness": lambda: an.coreness(pairs),
        "coreness_not_converged": lambda: an.coreness(path, max_iter=1),
        "ktruss": lambda: an.ktruss(pairs, k=3),
        "dag_layers": lambda: an.dag_layers(g.nodes, dag.edges),
        "dag_layers_cycle": lambda: an.dag_layers(
            g.nodes, g.edges, max_iter=4
        ),
        "transitive_closure": lambda: an.transitive_closure(pairs),
        "wl_color_histogram": lambda: an.wl_color_histogram(pairs),
        "maximal_matching": lambda: an.maximal_matching(pairs),
        "greedy_coloring": lambda: an.greedy_coloring(pairs),
        "greedy_coloring_overrun": lambda: an.greedy_coloring(
            pairs, max_rounds=1
        ),
        "khop_neighbors": lambda: an.khop_neighbors(g, 2),
        "khop_neighbors_past_depth": lambda: an.khop_neighbors(g, 9),
        "betweenness_landmarks": lambda: an.betweenness_landmarks(pairs, 2),
        "edge_betweenness_landmarks": lambda: an.betweenness_landmarks(
            pairs, 2, level="edge"
        ),
        "connected_components_two_phase": lambda: (
            an.connected_components_two_phase(
                spark.range(1, 41), path40
            )
        ),
        "hits": lambda: an.hits(g, n_iter=3),
        "hits_one_iteration": lambda: an.hits(g, n_iter=1),
    }
    raises = {
        "coreness_not_converged": RuntimeError,
        "dag_layers_cycle": ValueError,
        "greedy_coloring_overrun": RuntimeError,
    }
    before = _cached_rdd_ids(spark)
    if call in raises:
        with pytest.raises(raises[call]):
            runs[call]()
    else:
        runs[call]().collect()
    assert _cached_rdd_ids(spark) - before == set()


@pytest.mark.parametrize(
    "fails_in, true_from, n_rounds, want_rounds",
    [
        ("step", None, 3, 2),
        ("converged", None, 3, 2),
        (None, 2, 5, 2),
        (None, 5, 3, 3),
        (None, None, 4, 4),
    ],
    ids=[
        "step_fails",
        "check_fails",
        "stops_at_first_true",
        "true_after_last_round",
        "never_true",
    ],
)
def test_supersteps_releases_rounds_on_error(
    spark, fails_in, true_from, n_rounds, want_rounds
):
    """A step or a convergence check that raises in round 2 leaves
    every lazily persisted round released, and the caller's job
    description in place. Without an error the loop stops at the first
    round whose check returns true, never runs more than ``n_rounds``
    rounds, and the check's jobs are described ``label:r{n}``. The
    step-failure input passes no check at all."""
    from akka_graph_db_spark.operators.analytics import _supersteps

    sc = spark.sparkContext
    seen, checked = [], []

    def step(state):
        seen.append((state, state.storageLevel.useMemory))
        if fails_in == "step" and len(seen) == 2:
            raise RuntimeError("round 2 fails")
        return state.select("id", F.lit(len(seen)).alias("x"))

    def converged(state):
        checked.append(
            (state, sc.getLocalProperty("spark.job.description"))
        )
        if fails_in == "converged" and len(checked) == 2:
            raise RuntimeError("round 2 fails")
        return state.count() == 3 and len(checked) == true_from

    def run():
        return _supersteps(
            spark.range(3),
            step,
            n_rounds,
            "failing",
            converged=None if fails_in == "step" else converged,
        )

    if fails_in:
        with pytest.raises(RuntimeError, match="round 2 fails"):
            run()
    else:
        assert {r.x for r in run().collect()} == {want_rounds}
    assert len(seen) == want_rounds
    round_1, cached_in_round_2 = seen[1]
    assert cached_in_round_2
    assert not any(
        df.storageLevel.useMemory
        for df in [df for df, _ in seen[1:]] + [df for df, _ in checked]
    )
    assert [d for _, d in checked] == [
        f"failing:r{r}" for r in range(1, len(checked) + 1)
    ]
    desc = sc.getLocalProperty("spark.job.description")
    assert desc is None


def test_weighted_relaxations_cut_their_lineage(spark):
    """Each relaxation round reads its input twice (a union and a join),
    so without a lineage cut the analyzed plan doubles every round:
    about 2000 lines at 8 rounds for 9 at one. The plan of an 8-round
    result must stay within 8x the 1-round plan."""
    from akka_graph_db_spark.operators import analytics as an

    wpairs = spark.createDataFrame(
        [(i, i + 1, 1 + i % 3) for i in range(12)] + [(0, 6, 2), (3, 9, 1)],
        "a bigint, b bigint, w bigint",
    )

    def plan_lines(df):
        return len(df._jdf.queryExecution().analyzed().treeString().splitlines())

    for op in (an.weighted_nearest_seed, an.weighted_landmark_costs):
        one, eight = (op(wpairs, [0, 5], max_rounds=r) for r in (1, 8))
        assert plan_lines(eight) <= 8 * plan_lines(one), op.__name__
        assert eight.count() == 13 * (1 if op is an.weighted_nearest_seed else 2)


def test_fixed_round_peels_cut_their_lineage(spark, monkeypatch):
    """wl_color_histogram and maximal_matching read their state twice
    per round, so without a lineage cut the analyzed plan of a round
    doubles every round. The driver's result is always a checkpoint, so
    the check traces the plan each step returns: round 8's must stay
    within 8x round 1's."""
    from akka_graph_db_spark.operators import analytics as an

    pairs = spark.createDataFrame(
        [(i, (3 * i + 1) % 14) for i in range(14)] + [(0, 7), (2, 9)],
        "a bigint, b bigint",
    )

    def plan_lines(df):
        return len(df._jdf.queryExecution().analyzed().treeString().splitlines())

    drive, plans = an._supersteps, []

    def traced(state, step, *args, **kwargs):
        def traced_step(s):
            out = step(s)
            plans.append(plan_lines(out))
            return out

        return drive(state, traced_step, *args, **kwargs)

    monkeypatch.setattr(an, "_supersteps", traced)
    for op in (an.wl_color_histogram, an.maximal_matching):
        plans.clear()
        assert op(pairs, rounds=8).count() > 0
        assert len(plans) == 8 and plans[-1] <= 8 * plans[0], op.__name__


def test_khop_neighbors_cuts_its_lineage(spark, monkeypatch):
    """k-hop BFS rounds read their state three times (frontier, visited
    anti-join, union), so without a lineage cut the plan of round r
    grows as 3^r: on a 40-node path, k = 6 took about 20 s and k = 8
    ran out of a 2 GB driver heap when the loop kept its own persisted
    unions. At k = 8 the answer equals a Python BFS and the last
    round's plan stays within 8x round 1's."""
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import analytics as an

    arcs = [(i, i + 1) for i in range(1, 40)] + [(40, 40), (7, 3)]
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [(i, "n", {}) for i in range(1, 41)],
            "id bigint, label string, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(k, "e", a, b, {}) for k, (a, b) in enumerate(arcs)],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    out = {}
    for a, b in arcs:
        out.setdefault(a, set()).add(b)
    want = set()
    for u in out:
        seen, layer = {u}, {u}
        for _ in range(8):
            layer = {w for v in layer for w in out.get(v, ())} - seen
            seen |= layer
        want |= {(u, v) for v in seen - {u}}

    def plan_lines(df):
        return len(df._jdf.queryExecution().analyzed().treeString().splitlines())

    drive, plans = an._supersteps, []

    def traced(state, step, *args, **kwargs):
        def traced_step(s):
            out = step(s)
            plans.append(plan_lines(out))
            return out

        return drive(state, traced_step, *args, **kwargs)

    monkeypatch.setattr(an, "_supersteps", traced)
    got = an.khop_neighbors(g, 8)
    assert {tuple(r) for r in got.collect()} == want
    assert len(plans) == 7 and plans[-1] <= 8 * plans[0]


def test_bowtie_classes_releases_its_cache(spark):
    """bowtie_classes persisted its `scc` frame without release —
    repeated calls in a long-lived session accumulated cached frames
    (ADVICE r8)."""
    from akka_graph_db_spark.operators.analytics import bowtie_classes

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "a bigint, b bigint"
    )
    before = _cached_rdd_ids(spark)
    bowtie_classes(pairs).collect()
    assert _cached_rdd_ids(spark) - before == set()
