"""§2.8 analytics on the micro-graph (known closed-form answers)."""

import pyspark.sql.functions as F

from akka_graph_db_spark.operators import analytics


def test_degrees(micro):
    d = {r["id"]: r for r in analytics.degrees(micro).collect()}
    assert d[6]["out_degree"] == 5 and d[6]["in_degree"] == 0
    assert d[7]["degree"] == 0  # island
    assert d[1]["out_degree"] == 5  # 100,102,103,104,105
    assert d[1]["in_degree"] == 3  # 101, 102(self), 107


def test_connected_components(micro):
    cc = {r["id"]: r["component"] for r in
          analytics.connected_components(micro).collect()}
    main = {1, 2, 3, 4, 5, 6, 8, 9, 10}
    # node 10 has no edges -> its own component; island too
    assert cc[7] == 7
    assert cc[10] == 10
    connected = main - {10}
    assert {cc[i] for i in connected} == {1}


def test_two_phase_cc_long_chain(spark):
    # a 40-node path: min-propagation needs ~40 supersteps, two-phase ~log n
    verts = spark.createDataFrame([(i,) for i in range(1, 41)], "id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "a bigint, b bigint"
    )
    cc = {
        r["id"]: r["component"]
        for r in analytics.connected_components_two_phase(
            verts, pairs
        ).collect()
    }
    assert set(cc.values()) == {1}


def test_two_phase_cc_matches_propagation(micro):
    pairs = micro.edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    verts = micro.nodes.select("id")
    a = {
        r["id"]: r["component"]
        for r in analytics.connected_components_from_pairs(
            verts, pairs
        ).collect()
    }
    b = {
        r["id"]: r["component"]
        for r in analytics.connected_components_two_phase(
            verts, pairs
        ).collect()
    }
    assert a == b


def test_triangle_count(micro):
    pairs = micro.edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    n = analytics.triangle_count(pairs).collect()[0]["n_triangles"]
    assert n == 9  # enumerated by hand in conftest docstring graph


def test_node_triangle_counts(micro):
    pairs = micro.edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    per = {r["id"]: r["n_triangles"] for r in
           analytics.node_triangle_counts(pairs).collect()}
    assert per[6] == 7  # hub participates in 7 of the 9


def test_triangle_star_no_wedge_blowup(spark):
    # one hub with 10k spokes + a single closing edge: with id-order
    # orientation the hub (lowest id) would center ~50M wedges; degree
    # orientation points every spoke at the hub, so only the one genuine
    # triangle's wedge survives. Must complete fast and count exactly 1.
    spokes = [(0, i) for i in range(1, 10_001)]
    pairs = spark.createDataFrame(
        spokes + [(1, 2)], "a bigint, b bigint"
    )
    n = analytics.triangle_count(pairs).collect()[0]["n_triangles"]
    assert n == 1
    per = {
        r["id"]: r["n_triangles"]
        for r in analytics.node_triangle_counts(pairs).collect()
    }
    assert per == {0: 1, 1: 1, 2: 1}


def test_pagerank_invariants(micro):
    pr = analytics.pagerank(micro, n_iter=10)
    rows = {r["id"]: r["rank"] for r in pr.collect()}
    n = len(rows)
    assert abs(sum(rows.values()) - n) < 1e-6  # mass conserved
    assert all(v > 0 for v in rows.values())
    # nodes receiving hub links outrank the hub itself (hub has no in-edges)
    assert rows[2] > rows[6]


def test_pagerank_rounds_carry_job_descriptions(micro):
    """The superstep driver describes each round's jobs `label:r{n}`
    (pagerank checkpoints round 3 of 4) and restores the caller's own
    description afterwards."""
    sc = micro.nodes.sparkSession.sparkContext
    jsc = sc._jsc.sc()
    sc.setJobDescription("caller")
    try:
        first = int(jsc.dagScheduler().nextJobId())
        analytics.pagerank(micro, n_iter=4)
        end = int(jsc.dagScheduler().nextJobId())
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    jsc.listenerBus().waitUntilEmpty()
    descriptions = set()
    for job_id in range(first, end):
        d = jsc.statusStore().job(job_id).description()
        descriptions.add(d.get() if d.isDefined() else None)
    assert "pagerank:r3" in descriptions


def test_match_path(micro):
    chains = analytics.match_path(micro, ["lives_in", "road"])
    got = sorted((r["n0"], r["n1"], r["n2"]) for r in chains.collect())
    assert got == [(1, 4, 5), (2, 5, 9), (3, 4, 5)]


def test_match_path_undirected_superset(micro):
    directed = analytics.match_path(micro, ["road"]).count()
    undirected = analytics.match_path(
        micro, ["road"], directed=False
    ).count()
    assert undirected == 2 * directed


def test_find_pattern_branching(micro):
    # a knows someone AND lives somewhere: a=1 (4 knows-edges x paris),
    # a=2 (2 knows-edges x tokyo) — parallel edges 103/104 both match
    rows = analytics.find_pattern(
        micro, "(a)-[:knows]->(b); (a)-[:lives_in]->(c)"
    ).collect()
    assert sorted((r["a"], r["b"], r["c"]) for r in rows) == [
        (1, 1, 4), (1, 2, 4), (1, 3, 4), (1, 3, 4), (2, 1, 5), (2, 3, 5),
    ]


def test_find_pattern_cycle_with_edge_vars(micro):
    # mutual knows: (1,2)/(2,1) plus the self-loop matching itself twice
    rows = analytics.find_pattern(
        micro, "(a)-[e1:knows]->(b); (b)-[e2:knows]->(a)"
    ).collect()
    got = sorted((r["a"], r["b"], r["e1"], r["e2"]) for r in rows)
    assert got == [(1, 1, 102, 102), (1, 2, 100, 101), (2, 1, 101, 100)]


def test_find_pattern_negation(micro):
    # knows-edges whose source has NO lives_in edge: only 8->2
    rows = analytics.find_pattern(
        micro, "(a)-[:knows]->(b); !(a)-[:lives_in]->(c)"
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(8, 2)]


def test_find_pattern_self_loop_term(micro):
    rows = analytics.find_pattern(micro, "(a)-[:knows]->(a)").collect()
    assert [r["a"] for r in rows] == [1]
    assert rows[0].asDict().keys() == {"a"}


def test_find_pattern_node_labels(micro):
    assert (
        analytics.find_pattern(
            micro, "(a)-[:knows]->(b)", node_labels={"b": "city"}
        ).count()
        == 0
    )
    assert (
        analytics.find_pattern(
            micro, "(a)-[:knows]->(b)", node_labels={"a": "person"}
        ).count()
        == 7
    )


def test_find_pattern_rejections(micro):
    import pytest as _pytest

    for bad, why in [
        ("(a)-[:knows]->(b); (c)-[:road]->(d)", "cartesian"),
        ("(a)-[e:knows]->(b); (b)-[e:knows]->(a)", "dup edge var"),
        ("(a)-[a:knows]->(b)", "node/edge name clash"),
        ("!(a)-[:knows]->(b)", "no positive term"),
        ("(a)-[:knows]->(b); !(c)-[:road]->(d)", "unbound negation"),
        ("(a)-[:knows]-(b)", "unparseable (undirected)"),
        ("", "empty"),
    ]:
        with _pytest.raises(ValueError):
            analytics.find_pattern(micro, bad), why
    with _pytest.raises(ValueError):
        analytics.find_pattern(
            micro, "(a)-[:knows]->(b)", node_labels={"zz": "person"}
        )


def test_shortest_paths_hops(micro):
    d = {
        r["id"]: r["dist"]
        for r in analytics.shortest_paths(micro, [6], max_hops=5).collect()
    }
    # hub reaches 1-5 in one hop, 9 via 5->road->9; island/8/10 unreachable
    assert d == {6: 0.0, 1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0, 5: 1.0, 9: 2.0}


def test_shortest_paths_weighted_prop_default(micro):
    d = {
        r["id"]: r["dist"]
        for r in analytics.shortest_paths(
            micro, [4], weight="km", max_hops=5
        ).collect()
    }
    # road 4->5 carries km=9727.5; road 5->9 has no km prop -> weight 1.0
    assert d == {4: 0.0, 5: 9727.5, 9: 9728.5}


def test_shortest_paths_isolated_source_terminates(micro):
    d = {
        r["id"]: r["dist"]
        for r in analytics.shortest_paths(micro, [7], max_hops=50).collect()
    }
    assert d == {7: 0.0}


def test_khop_neighbors(micro):
    pairs = analytics.khop_neighbors(micro, 2).collect()
    nbrs = {}
    for r in pairs:
        nbrs.setdefault(r["id"], set()).add(r["neighbor"])
    # hub 6: 1-hop {1..5}; 2-hop adds 9 (5->road->9); self excluded
    assert nbrs[6] == {1, 2, 3, 4, 5, 9}
    # 1: out-edges to 2,3,4 (self-loop excluded); 2-hop adds 1's... 2->5,
    # 2->3; 3->4; 4->5 => {2,3,4,5}
    assert nbrs[1] == {2, 3, 4, 5}
    assert 7 not in nbrs  # island has no out-edges
    # k=1 is exactly the distinct out-neighbor set
    one = analytics.khop_neighbors(micro, 1).collect()
    n1 = {}
    for r in one:
        n1.setdefault(r["id"], set()).add(r["neighbor"])
    assert n1[6] == {1, 2, 3, 4, 5}
    assert n1[1] == {2, 3, 4}


def test_label_propagation_triangle_plus_isolate(spark):
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id bigint")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "a bigint, b bigint"
    )
    out = {
        r["id"]: r["community"]
        for r in analytics.label_propagation(verts, pairs, n_iter=4).collect()
    }
    # triangle collapses to the min id; the isolate keeps its own
    assert out == {1: 1, 2: 1, 3: 1, 4: 4}


def test_label_propagation_deterministic_ties(spark):
    # node 5's neighbors have distinct communities -> smallest id wins
    verts = spark.createDataFrame([(i,) for i in (5, 7, 9)], "id bigint")
    pairs = spark.createDataFrame([(5, 7), (5, 9)], "a bigint, b bigint")
    one = analytics.label_propagation(verts, pairs, n_iter=1).collect()
    assert {r["id"]: r["community"] for r in one}[5] == 7


def test_label_propagation_parallel_edges_count_once(spark):
    # two parallel 1-2 edges must not outvote the single 1-3 edge tie rule
    verts = spark.createDataFrame([(1,), (2,), (3,)], "id bigint")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "a bigint, b bigint"
    )
    one = {
        r["id"]: r["community"]
        for r in analytics.label_propagation(verts, pairs, n_iter=1).collect()
    }
    assert one[1] == 2  # tie between {2,3} -> min, not the duplicated 2


def test_hits_star_closed_form(spark):
    """u -> {v1,v2,v3}: after any full iteration, authority mass splits
    evenly over the v's and u holds all hub mass."""
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import crud

    empty = PropertyGraph(
        nodes=spark.createDataFrame(
            [], "id bigint, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    g = crud.add_nodes(empty, [(i, "n", {}) for i in range(1, 5)])
    g = crud.add_edges(
        g, [(100 + v, "e", 1, v, {}) for v in (2, 3, 4)]
    )
    h = {r["id"]: r for r in analytics.hits(g, n_iter=3).collect()}
    assert abs(h[1]["hub"] - 1.0) < 1e-12
    for v in (2, 3, 4):
        assert abs(h[v]["authority"] - 1.0 / 3) < 1e-12
        assert h[v]["hub"] == 0.0
    assert h[1]["authority"] == 0.0


def test_auto_max_degree_quantile_and_floor(spark):
    """_auto_max_degree picks the exact integer-rank p99.9 degree
    (smallest d covering ceil(0.999*n) nodes), floored at 64, from a
    (degree, count) histogram — the collected rows of a Spark groupBy
    and numpy's unique counts derive the same cap."""
    import numpy as np
    from pyspark.sql import functions as F

    # 999 nodes of degree 1000, one hub of degree 5000: p99.9 rank is
    # ceil(0.999*1000)=999 -> cap=1000 (the hub is excluded).
    deg = spark.range(1000).select(
        F.col("id").alias("a"),
        F.when(F.col("id") == 0, F.lit(5000))
        .otherwise(F.lit(1000))
        .alias("deg"),
    )
    rows = deg.groupBy("deg").agg(F.count(F.lit(1))).collect()
    assert analytics._auto_max_degree(rows) == 1000
    degs = np.array([5000] + [1000] * 999)
    assert analytics._auto_max_degree(
        zip(*np.unique(degs, return_counts=True))
    ) == 1000
    # tiny degrees: the floor wins
    assert analytics._auto_max_degree([(3, 100)]) == 64
    # empty graph: floor
    assert analytics._auto_max_degree([]) == 64


def test_link_prediction_auto_matches_explicit_cap(spark):
    """max_degree='auto' must equal the explicitly-passed derived cap."""
    from pyspark.sql import functions as F

    # star around 0 (degree 120 > floor) + a 4-clique of low-degree nodes
    star = spark.range(1, 121).select(
        F.lit(0).alias("a"), F.col("id").alias("b")
    )
    clique = spark.createDataFrame(
        [(200, 201), (200, 202), (200, 203), (201, 202), (201, 203),
         (202, 203)],
        "a bigint, b bigint",
    )
    pairs = star.unionByName(clique)
    # n=125 nodes: ceil(0.999*125)=125, so the derived cap is the MAX
    # degree (120) — tiny graphs auto-tune to "uncapped", by design.
    auto = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=1, max_degree="auto"
    ).collect()
    explicit = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=1, max_degree=120
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))
    assert auto


def test_link_prediction_auto_cap_excludes_hub_on_power_law(spark):
    """100x-scale insurance the sf0.1 bench fixture can't provide
    (VERDICT r6 #7 — the co-order graph there is hub-free, so the auto
    cap excludes almost nothing): on a power-law-shaped graph with a
    hub whose degree dwarfs the p99.9 tail, the histogram-derived cap
    must (a) exclude the hub as a wedge CENTER, so `common` counts only
    sub-cap evidence, while (b) keeping the hub as an ENDPOINT with its
    TRUE degree in the Jaccard denominator."""
    from pyspark.sql import functions as F

    from akka_graph_db_spark.operators.analytics import (
        _AUTO_MAX_DEGREE_FLOOR,
        _auto_max_degree,
    )

    hub = 9999
    # hub -> 1..2000 (degree 2000); 1 and 2 additionally share the two
    # low-degree witnesses 10001/10002; everything else is a leaf.
    star = spark.range(1, 2001).select(
        F.lit(hub).alias("a"), F.col("id").alias("b")
    )
    witnesses = spark.createDataFrame(
        [(1, 10001), (2, 10001), (1, 10002), (2, 10002)],
        "a bigint, b bigint",
    )
    pairs = star.unionByName(witnesses)

    # the derived cap: 2002 of 2003 nodes have degree <= 3, so the
    # p99.9 integer-rank quantile is 3, floored to 64 — far below the
    # hub's 2000
    e = pairs
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    cap = _auto_max_degree(
        deg.groupBy("deg").agg(F.count(F.lit(1))).collect()
    )
    assert cap == _AUTO_MAX_DEGREE_FLOOR == 64
    assert cap < 2000  # the hub is excluded as a center

    got = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in analytics.link_prediction_jaccard(
            pairs, top_k=50, min_common=2, max_degree="auto"
        ).collect()
    }
    # (1, 2): common = the two witnesses ONLY — the hub is a common
    # neighbor but sits above the cap, so its evidence is dropped;
    # denominators keep TRUE degrees (deg 3 each): 2 / (3 + 3 - 2)
    assert got[(1, 2)] == (2, 0.5)
    # the witness pair sees centers 1 and 2 (deg 3 <= cap): exact
    assert got[(10001, 10002)] == (2, 1.0)
    # hub as ENDPOINT survives with its true degree in the denominator:
    # 2 / (2000 + 2 - 2)
    assert got[(hub, 10001)] == (2, 0.001)
    assert got[(hub, 10002)] == (2, 0.001)
    # leaves 3..2000 share ONLY the hub — above-cap evidence, so no
    # pair of them reaches min_common
    assert len(got) == 4
    # capped semantics == the explicit-cap unroll (oracle contract)
    explicit = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in analytics.link_prediction_jaccard(
            pairs, top_k=50, min_common=2, max_degree=cap
        ).collect()
    }
    assert got == explicit


def test_rich_club_clique_with_pendant(spark):
    """4-clique {1..4} + pendant 4-5: above k=1 and k=2 the club is the
    clique (deg 3,3,3,4) and is fully connected (phi = 1.0); above k=3
    only node 4 remains, so phi = 0 by the N < 2 convention."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "a bigint, b bigint",
    )
    got = {
        r["k"]: (r["n_nodes"], r["n_edges"], r["phi"])
        for r in analytics.rich_club(pairs, ks=(1, 2, 3)).collect()
    }
    assert got == {
        1: (4, 6, 1.0),
        2: (4, 6, 1.0),
        3: (1, 0, 0.0),
    }


def test_coreness_matches_kcore_membership(spark):
    """coreness(v) >= k  <=>  v survives kcore(k): cross-check the
    h-index decomposition against degree peeling on a two-shell graph
    (a 4-clique with a pendant path) for every k it contains."""
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
         (4, 5), (5, 6)],  # pendant path
        "a bigint, b bigint",
    )
    core = {
        r["id"]: r["coreness"] for r in analytics.coreness(pairs).collect()
    }
    assert core == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1}
    for k in (1, 2, 3):
        members = {
            r["id"] for r in analytics.kcore(pairs, k=k).collect()
        }
        assert members == {v for v, c in core.items() if c >= k}, k


def test_coreness_raises_instead_of_returning_bounds(spark):
    """Exhausting max_iter without the fixpoint must RAISE (ADVICE r6):
    intermediate h values are only upper bounds on coreness and there
    is no recount fallback that restores the contract. A path graph
    P6 starts at h0=degree=2 for inner vertices and needs several
    rounds to relax to coreness 1."""
    import pytest

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "a bigint, b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        analytics.coreness(pairs, max_iter=1)
    core = {
        r["id"]: r["coreness"] for r in analytics.coreness(pairs).collect()
    }
    assert core == {v: 1 for v in range(1, 7)}


def test_kcore_triangle_with_pendant(spark):
    """Triangle 1-2-3 plus pendant edge 1-4: the 2-core is exactly the
    triangle, every member with core degree 2; the 3-core is empty."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "a bigint, b bigint"
    )
    core2 = {
        r["id"]: r["core_degree"]
        for r in analytics.kcore(pairs, k=2).collect()
    }
    assert core2 == {1: 2, 2: 2, 3: 2}
    assert analytics.kcore(pairs, k=3).count() == 0


def test_link_prediction_square(spark):
    """4-cycle 1-2-3-4-1: the two diagonals are the only candidates, both
    with 2 common neighbors and Jaccard 2/(2+2-2) = 1.0."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a bigint, b bigint"
    )
    rows = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=2
    ).collect()
    got = {(r["a"], r["b"]): (r["common"], r["jaccard"]) for r in rows}
    assert got == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_link_prediction_star_degree_cap(spark):
    """Hub 1000 — leaves 1..10, plus low-degree centers 11, 12 adjacent
    to leaves 1 and 2. max_degree=5 drops every hub-CENTERED wedge (the
    d² volume driver) but keeps TRUE degrees in the Jaccard denominator:
    (1,2) loses the hub as evidence (common 3 -> {11, 12} = 2, jaccard
    2/(3+3-2) = 0.5) and leaf-leaf pairs evidenced ONLY by the hub
    vanish; pairs evidenced by low-degree centers — (11,12) via {1,2},
    (11,1000)/(12,1000) via the degree-3 leaves — survive untouched,
    with TRUE degrees in the denominator (deg(1000)=10)."""
    edges = [(1000, i) for i in range(1, 11)]
    edges += [(11, 1), (11, 2), (12, 1), (12, 2)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")

    capped = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=2, max_degree=5
    ).collect()
    got = {(r["a"], r["b"]): (r["common"], r["jaccard"]) for r in capped}
    assert got == {
        (11, 12): (2, 1.0),
        (1, 2): (2, 0.5),
        (11, 1000): (2, 0.2),
        (12, 1000): (2, 0.2),
    }

    full = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=2
    ).collect()
    got_full = {(r["a"], r["b"]): (r["common"], r["jaccard"]) for r in full}
    assert got_full == {
        (1, 2): (3, 1.0),
        (11, 12): (2, 1.0),
        (11, 1000): (2, 0.2),
        (12, 1000): (2, 0.2),
    }


def test_personalized_pagerank_two_node_chain(spark):
    """1 -> 2 with source {1}: closed form after 2 iterations is
    r(1) = 0.15 + 0.85*0.85, r(2) = 0.85*0.15 (dangling node 2 returns
    its mass to the source)."""
    from akka_graph_db_spark.model import PropertyGraph
    from akka_graph_db_spark.operators import crud

    empty = PropertyGraph(
        nodes=spark.createDataFrame(
            [], "id bigint, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    g = crud.add_nodes(empty, [(1, "n", {}), (2, "n", {})])
    g = crud.add_edges(g, [(100, "e", 1, 2, {})])
    pr = {
        r["id"]: r["rank"]
        for r in analytics.personalized_pagerank(
            g, [1], n_iter=2
        ).collect()
    }
    assert abs(pr[1] - (0.15 + 0.85 * 0.85)) < 1e-12
    assert abs(pr[2] - 0.85 * 0.15) < 1e-12
    assert abs(sum(pr.values()) - 1.0) < 1e-12


def test_aggregate_messages_both_directions(micro):
    """Count in- and out-neighbors of node 1 via one aggregate_messages
    call (msg 1 to both endpoints of every edge) == degree counts."""
    res = {
        r["id"]: r["n"]
        for r in analytics.aggregate_messages(
            micro,
            agg=F.count("msg").alias("n"),
            to_dst=F.lit(1),
            to_src=F.lit(1),
        ).collect()
    }
    d = {r["id"]: r for r in analytics.degrees(micro).collect()}
    for i, row in d.items():
        assert res.get(i, 0) == row["degree"], i


def test_aggregate_messages_null_messages_dropped(micro):
    """Conditional messages: only 'knows' edges send; city nodes receive
    nothing and are absent from the result."""
    res = analytics.aggregate_messages(
        micro,
        agg=F.count("msg").alias("n"),
        to_dst=F.when(F.col("edge.label") == "knows", F.lit(1)),
    )
    ids = {r["id"] for r in res.collect()}
    assert 4 not in ids and 5 not in ids  # cities: only lives_in/road in
    assert 2 in ids and 3 in ids


def test_assortativity_star_is_minus_one(spark):
    """Star center 0, leaves 1-3: every edge links degree 3 to degree 1,
    so the degree correlation is exactly -1. Moment check: n=6, Sx=12,
    Sxy=18, Sxx=30 -> num=-36, den=36."""
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a bigint, b bigint"
    )
    row = analytics.degree_assortativity(pairs).collect()[0]
    assert row["n_edges"] == 3
    assert row["assortativity"] == -1.0


def test_random_walks_path_graph_alternates(spark):
    """Path 1-2: both endpoints have exactly one neighbor, so walks
    alternate deterministically regardless of the hash draws."""
    pairs = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    rows = analytics.random_walks(pairs, n_seeds=64, n_steps=4).collect()
    got = {
        r["walk_id"]: [r[f"step_{t}"] for t in range(5)] for r in rows
    }
    assert got == {1: [1, 2, 1, 2, 1], 2: [2, 1, 2, 1, 2]}


def test_random_walks_triangle_matches_hash_replay(spark):
    """Triangle 1-2-3 (every degree 2): replay the md5_63 draws with
    hashlib and assert the engine picked the identical neighbor ranks."""
    import hashlib
    import struct

    def md5_63(s: str) -> int:
        d = hashlib.md5(s.encode()).digest()
        return struct.unpack("<Q", d[:8])[0] & ((1 << 63) - 1)

    adj = {1: [2, 3], 2: [1, 3], 3: [1, 2]}
    expected = {}
    for seed in (1, 2, 3):
        walk = [seed]
        for t in range(1, 5):
            nbrs = adj[walk[-1]]
            walk.append(nbrs[md5_63(f"{seed}:{t}:w") % len(nbrs)])
        expected[seed] = walk

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    rows = analytics.random_walks(pairs, n_seeds=3, n_steps=4).collect()
    got = {
        r["walk_id"]: [r[f"step_{t}"] for t in range(5)] for r in rows
    }
    assert got == expected


def test_random_walks_shuffle_regime_matches_broadcast(spark, monkeypatch):
    """The n_seeds gate picks between frontier-broadcast and
    globally-ranked-adjacency shuffle joins; both must emit identical
    walks since they rank a node's full adjacency the same way."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5)],
        "a bigint, b bigint",
    )
    want = sorted(
        map(tuple, analytics.random_walks(pairs, 5, 4).collect())
    )
    monkeypatch.setattr(analytics, "_WALK_BROADCAST_MAX_SEEDS", 0)
    got = sorted(
        map(tuple, analytics.random_walks(pairs, 5, 4).collect())
    )
    assert got == want


def test_node2vec_shuffle_regime_matches_broadcast(spark, monkeypatch):
    """node2vec's step-1 rank and per-step prev-adjacency gating switch
    on the seed-count gate; the shuffle regime must emit walks identical
    to the broadcast regime (both rank adjacency by neighbor id and draw
    from the same md5 stream — a subset rank equals the global rank)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5)],
        "a bigint, b bigint",
    )
    want = sorted(
        map(
            tuple,
            analytics.node2vec_walks(pairs, n_seeds=5, n_steps=4).collect(),
        )
    )
    monkeypatch.setattr(analytics, "_WALK_BROADCAST_MAX_SEEDS", 0)
    got = sorted(
        map(
            tuple,
            analytics.node2vec_walks(pairs, n_seeds=5, n_steps=4).collect(),
        )
    )
    assert got == want


def test_pagerank_weighted_closed_form(spark):
    """1->2 (w=2) and 1->3 (w=6), one iteration: node 1's rank splits
    1/4 : 3/4 by weight; 2 and 3 are dangling (mass 2.0 over n=3)."""
    import pytest

    from akka_graph_db_spark.model import PropertyGraph

    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [(1, "n", None), (2, "n", None), (3, "n", None)],
            "id bigint, label string, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [
                (10, "e", 1, 2, {"w": "2"}),
                (11, "e", 1, 3, {"w": "6"}),
            ],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    got = {
        r["id"]: r["rank"]
        for r in analytics.pagerank(g, n_iter=1, weight="w").collect()
    }
    base, d = 1.0 - 0.85, 0.85
    dang = 2.0 / 3
    assert got[1] == pytest.approx(base + d * dang)
    assert got[2] == pytest.approx(base + d * (0.25 + dang))
    assert got[3] == pytest.approx(base + d * (0.75 + dang))


def test_landmark_hop_distances_path(spark):
    """Path 1-2-3-4-5, landmarks {1, 5}, depth 2: first-hit hop counts
    from each landmark; nodes beyond the depth bound are absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    rows = analytics.landmark_hop_distances(
        pairs, landmarks=[1, 5], max_depth=2
    ).collect()
    got = {(r["landmark"], r["id"]): r["dist"] for r in rows}
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2,
        (5, 5): 0, (5, 4): 1, (5, 3): 2,
    }

    one = analytics.landmark_hop_distances(
        pairs, landmarks=1, max_depth=1
    ).collect()
    assert {(r["landmark"], r["id"]): r["dist"] for r in one} == {
        (1, 1): 0, (1, 2): 1
    }


def test_betweenness_path_graph_exact(spark):
    """Path 1-2-3, all landmarks, full depth: only the middle node lies
    on a shortest path — B(2) = 2 (ordered pairs (1,3) and (3,1))."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    got = {
        r["id"]: r["betweenness"]
        for r in analytics.betweenness_landmarks(
            pairs, landmarks=[1, 2, 3], max_depth=2
        ).collect()
    }
    assert got == {2: 2.0}


def test_betweenness_star_center(spark):
    """Star center 0 with leaves 1-3: every ordered leaf pair routes
    through the center — B(0) = 3·2 = 6; leaves score 0 (absent)."""
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a bigint, b bigint"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in analytics.betweenness_landmarks(
            pairs, landmarks=[0, 1, 2, 3], max_depth=2
        ).collect()
    }
    assert got == {0: 6.0}


def test_betweenness_square_split_paths(spark):
    """4-cycle 1-2-4-3-1: each opposite pair ((1,4) and (2,3)) has TWO
    shortest paths, so an intermediate node carries σ-fraction 1/2 per
    ordered pair it serves; by symmetry every node serves 2 ordered
    pairs at fraction 1/2 — betweenness exactly 1.0 each."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4)], "a bigint, b bigint"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in analytics.betweenness_landmarks(
            pairs, landmarks=[1, 2, 3, 4], max_depth=2
        ).collect()
    }
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0}


def test_community_modularity_two_cliques(spark):
    """Two triangles joined by one bridge edge, communities = the
    cliques: m=7, within arcs W=12 (6 edges * 2), A=14, d_c = 7 each
    (three nodes: 2+2+3); Q = (14*12 - 2*49)/196 = 70/196 = 0.357143."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "a bigint, b bigint",
    )
    asg = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "id bigint, community bigint",
    )
    row = analytics.community_modularity(pairs, asg).collect()[0]
    assert row["n_edges"] == 7
    assert row["n_communities"] == 2
    assert row["modularity"] == round(70 / 196, 6)


def test_community_modularity_single_community(spark):
    """Everything in one community: Q = (A*A - A^2)/A^2 = 0 exactly
    (d_total = A), for any connected graph."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "a bigint, b bigint"
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id bigint, community bigint"
    )
    row = analytics.community_modularity(pairs, asg).collect()[0]
    assert row["modularity"] == 0.0 and row["n_communities"] == 1


def test_ktruss_k4_complete(spark):
    """K4: every edge sits in exactly 2 triangles — the 4-truss
    (support >= 2) keeps all 6 edges; the 5-truss is empty."""
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    t4 = analytics.ktruss(pairs, k=4).collect()
    assert len(t4) == 6 and all(r["support"] == 2 for r in t4)
    assert analytics.ktruss(pairs, k=5).count() == 0


def test_ktruss_peels_cascade(spark):
    """Two triangles sharing edge (2,3): the shared edge has support 2,
    the others 1. k=4 first removes the support-1 edges, which drops the
    shared edge's support to 0 — the cascade empties the graph (a
    one-round filter would wrongly keep (2,3))."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "a bigint, b bigint"
    )
    assert analytics.ktruss(pairs, k=4).count() == 0
    t3 = {(r["a"], r["b"]) for r in analytics.ktruss(pairs, k=3).collect()}
    assert t3 == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}


def test_ktruss_pendant_removed(spark):
    """Triangle + pendant edge: 3-truss keeps the triangle, drops the
    pendant (support 0)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 9)], "a bigint, b bigint"
    )
    got = {(r["a"], r["b"]) for r in analytics.ktruss(pairs, k=3).collect()}
    assert got == {(1, 2), (2, 3), (1, 3)}


def test_transitive_closure_and_scc(spark):
    """Chain 1→2→3 with back edge 3→2 and isolated-source 4→1: closure
    must contain 1→3 (2 hops); SCC {2,3} is the only nontrivial
    component, 1 and 4 are singletons."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (4, 1)], "a bigint, b bigint"
    )
    reach = {
        (r["a"], r["b"])
        for r in analytics.transitive_closure(pairs).collect()
    }
    assert (1, 3) in reach and (4, 3) in reach and (3, 3) in reach
    scc = {
        r["id"]: (r["scc"], r["scc_size"])
        for r in analytics.strongly_connected_components(pairs).collect()
    }
    assert scc == {1: (1, 1), 2: (2, 2), 3: (2, 2), 4: (4, 1)}


def test_scc_two_cycles_bridged(spark):
    """Two 2-cycles joined by a one-way bridge stay separate SCCs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], "a bigint, b bigint"
    )
    scc = {
        r["id"]: r["scc"]
        for r in analytics.strongly_connected_components(pairs).collect()
    }
    assert scc == {1: 1, 2: 1, 3: 3, 4: 3}


def test_walk_skipgram_pairs_window(spark):
    """One walk 1→2→3→4 (n_steps=3), window 1: consecutive ordered
    pairs only, each counted once."""
    walks = spark.createDataFrame(
        [(7, 1, 2, 3, 4)],
        "walk_id bigint, step_0 bigint, step_1 bigint,"
        " step_2 bigint, step_3 bigint",
    )
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in analytics.walk_skipgram_pairs(
            walks, n_steps=3, window=1
        ).collect()
    }
    expected = {}
    for a, b in [(1, 2), (2, 3), (3, 4)]:
        expected[(a, b)] = 1
        expected[(b, a)] = 1
    assert got == expected


def test_walk_skipgram_repeated_node_counts(spark):
    """A walk revisiting a node (1→2→1) with window 2 counts every
    positional pair — (1,1) appears twice (both orders of pos 0/2)."""
    walks = spark.createDataFrame(
        [(1, 1, 2, 1)],
        "walk_id bigint, step_0 bigint, step_1 bigint, step_2 bigint",
    )
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in analytics.walk_skipgram_pairs(
            walks, n_steps=2, window=2
        ).collect()
    }
    assert got[(1, 1)] == 2 and got[(1, 2)] == 2 and got[(2, 1)] == 2


def test_link_prediction_bipartite_projection(spark):
    """Customers 1,2 share parts 100,101 (offset band); customer 3
    shares one part with each. endpoints_below keeps only low-band
    (customer) pairs, and the pair with 2 shared parts wins."""
    off = 100
    rows = [(1, 100), (1, 101), (2, 100), (2, 101), (3, 101), (3, 102),
            (2, 102)]
    pairs = spark.createDataFrame(rows, "a bigint, b bigint")
    got = analytics.link_prediction_jaccard(
        pairs, top_k=10, min_common=1, endpoints_below=off
    ).collect()
    assert all(r["a"] < off and r["b"] < off for r in got)
    top = got[0]
    # (1,2): common {100,101}; deg(1)=2, deg(2)=3 -> J = 2/3
    assert (top["a"], top["b"], top["common"]) == (1, 2, 2)
    assert abs(top["jaccard"] - 2 / 3) < 1e-9


def test_maximal_independent_set_properties(spark):
    """Path 1-2-3-4 plus isolated 9: the MIS must be independent (no
    two members adjacent), maximal (every non-member has a member
    neighbor), include the isolated vertex, and be identical across
    partitionings (hash-deterministic)."""
    edges = [(1, 2), (2, 3), (3, 4)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 9)], "id bigint"
    )
    mis = {
        r["id"]
        for r in analytics.maximal_independent_set(pairs, verts).collect()
    }
    assert 9 in mis
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in mis:
        assert not (adj.get(v, set()) & mis)  # independence
    for v in {1, 2, 3, 4} - mis:
        assert adj[v] & mis  # maximality
    again = {
        r["id"]
        for r in analytics.maximal_independent_set(
            pairs.repartition(5), verts
        ).collect()
    }
    assert again == mis


def test_maximal_independent_set_sequential_finish(spark):
    """max_rounds=0 forces the gated driver-side finish: the result must
    still be independent AND maximal (ADVICE r5 — exhausting rounds used
    to silently drop survivors, returning a non-maximal set)."""
    edges = [(i, i + 1) for i in range(1, 9)]  # path 1-2-...-9
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    mis = {
        r["id"]
        for r in analytics.maximal_independent_set(
            pairs, max_rounds=0
        ).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independent: no two members adjacent
    assert all(adj[v].isdisjoint(mis) for v in mis)
    # maximal: every non-member has a member neighbor
    assert all(adj[v] & mis for v in adj if v not in mis)


def test_maximal_independent_set_triangle(spark):
    """A triangle's MIS is exactly one vertex."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    assert analytics.maximal_independent_set(pairs).count() == 1


def test_node2vec_walks_no_backtrack_path(spark):
    """Path 1-2-3-4 with w_return=0: from each node the only nonzero-
    weight neighbor is the forward one, so the single seeded walk is
    forced to 1→2→3→4 regardless of hash draws."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a bigint, b bigint"
    )
    row = analytics.node2vec_walks(
        pairs, n_seeds=1, n_steps=3, w_return=0, w_common=1, w_far=1
    ).collect()[0]
    assert [row[f"step_{i}"] for i in range(4)] == [1, 2, 3, 4]


def test_node2vec_walks_valid_and_deterministic(spark):
    """Triangle + tail: every consecutive step pair must be an edge,
    w_return=0 forbids immediate backtracking, and the walks are
    identical across partitionings."""
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    eset = {frozenset(e) for e in edges}

    def run(df):
        return {
            r["walk_id"]: [r[f"step_{i}"] for i in range(4)]
            for r in analytics.node2vec_walks(
                df, n_seeds=3, n_steps=3, w_return=0
            ).collect()
        }

    walks = run(pairs)
    for steps in walks.values():
        for x, y in zip(steps, steps[1:]):
            assert frozenset((x, y)) in eset
        deg = {v: sum(1 for e in eset if v in e) for v in {1, 2, 3, 4}}
        for x, mid, y in zip(steps, steps[1:], steps[2:]):
            # w_return=0 forbids immediate backtracking EXCEPT at a
            # dead end, where the uniform fallback must turn around
            if deg[mid] > 1:
                assert x != y
    assert run(pairs.repartition(7)) == walks


def test_greedy_coloring_proper_and_deterministic(micro):
    from pyspark.sql import functions as F

    pairs = micro.edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).where(F.col("src") != F.col("dst"))
    verts = micro.nodes.select("id")
    col1 = {r["id"]: r["color"]
            for r in analytics.greedy_coloring(pairs, verts).collect()}
    # every vertex colored, colors start at 1
    assert set(col1) == {r["id"] for r in verts.collect()}
    assert min(col1.values()) == 1
    # proper: no edge joins two equal colors
    for r in pairs.collect():
        if r["a"] != r["b"]:
            assert col1[r["a"]] != col1[r["b"]], (r["a"], r["b"])
    # deterministic across runs
    col2 = {r["id"]: r["color"]
            for r in analytics.greedy_coloring(pairs, verts).collect()}
    assert col1 == col2
    # the two degree-5 vertices (2 and 6, adjacent) are the top priority
    # tier; the hash tiebreak orders them, so they take colors 1 and 2
    assert {col1[2], col1[6]} == {1, 2}


def test_greedy_coloring_star_two_rounds(spark):
    from pyspark.sql import functions as F

    # star: hub 0 with 40 leaves -> 2 colors, must converge well within
    # the degree-level bound (hub first, then every leaf at once)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 41)], "a bigint, b bigint"
    )
    got = {r["id"]: r["color"]
           for r in analytics.greedy_coloring(pairs, max_rounds=3).collect()}
    assert got[0] == 1
    assert all(got[i] == 2 for i in range(1, 41))


def test_greedy_coloring_raises_on_overrun(spark):
    import pytest as _pytest

    # a triangle cannot finish in 1 round (only one vertex can win)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    with _pytest.raises(RuntimeError):
        analytics.greedy_coloring(pairs, max_rounds=1)


def test_clique_ladder_k5_plus_pendant(spark):
    """K5 on nodes 1-5 with a pendant 6-1: each K5 node sits in
    C(4,2)=6 triangles and C(4,3)=4 K4s; the pendant sits in none and
    never appears (no triangle membership)."""
    import itertools

    pairs = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(1, 6), 2)]
        + [(1, 6)],
        "a bigint, b bigint",
    )
    rows = analytics.clique_ladder_profile(pairs, top=10).collect()
    got = {r["id"]: (r["n_triangles"], r["n_cliques4"]) for r in rows}
    assert got == {i: (6, 4) for i in range(1, 6)}
    # and the bare per-node K4 counts agree
    quad = {
        r["id"]: r["n_cliques4"]
        for r in analytics.node_four_clique_counts(pairs).collect()
    }
    assert quad == {i: 4 for i in range(1, 6)}


def test_four_cliques_none_in_triangle_only_graph(spark):
    """A lone triangle has zero K4s."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    assert analytics.node_four_clique_counts(pairs).count() == 0


def test_negative_edge_samples_validity_and_determinism(spark):
    """Samples are non-edges with a<b, at most k per node, and
    identical across runs/partitionings (md5 draws)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6)],
        "a bigint, b bigint",
    )
    out1 = sorted(
        (r["a"], r["b"], r["rk"])
        for r in analytics.negative_edge_samples(
            pairs, buckets=2, k=2
        ).collect()
    )
    out2 = sorted(
        (r["a"], r["b"], r["rk"])
        for r in analytics.negative_edge_samples(
            pairs.repartition(7), buckets=2, k=2
        ).collect()
    )
    assert out1 == out2 and out1
    edges = {(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6)}
    per_a = {}
    for a, b, rk in out1:
        assert a < b and (a, b) not in edges and 1 <= rk <= 2
        per_a[a] = per_a.get(a, 0) + 1
    assert all(v <= 2 for v in per_a.values())


def test_hash_projection_embeddings_exact(spark):
    """Path 1-2-3: h1(v) = Σ seed(neighbors), h2(v) = Σ h1(neighbors),
    verified against hashlib md5 parity computed in plain Python."""
    import hashlib

    def seed(v, d):
        h = hashlib.md5(f"{v}:{d}".encode()).hexdigest()[0]
        return 1 if h in "02468ace" else -1

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    got = {
        (r["id"], r["dim"]): (r["h1"], r["h2"])
        for r in analytics.hash_projection_embeddings(
            pairs, dims=2, rounds=2
        ).collect()
    }
    nbrs = {1: [2], 2: [1, 3], 3: [2]}
    for v in (1, 2, 3):
        for d in (0, 1):
            h1 = sum(seed(u, d) for u in nbrs[v])
            h2 = sum(
                sum(seed(w, d) for w in nbrs[u]) for u in nbrs[v]
            )
            assert got[(v, d)] == (h1, h2), (v, d)


def test_link_prediction_resource_allocation_closed_form(
    spark, monkeypatch
):
    """Square 1-2-3-4-1 plus a pendant 5 on node 1: the non-adjacent
    diagonals (1,3) and (2,4) each have two degree-2... check exact ppm:
    deg(1)=3, deg(2)=deg(3)=deg(4)=2, deg(5)=1. Candidates with >=2
    common neighbors: (1,3) via {2,4} -> 500000+500000; (2,4) via
    {1,3} -> 333333+500000. Both the CSR and the wedge path."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 5)], "a bigint, b bigint"
    )
    for forced in ("intersect", "wedge"):
        monkeypatch.setattr(analytics, "_FORCE_LP_PATH", forced)
        got = {
            (r["a"], r["b"]): (r["ra_ppm"], r["common"])
            for r in analytics.link_prediction_resource_allocation(
                pairs, top_k=10, min_common=2
            ).collect()
        }
        assert got == {(1, 3): (1000000, 2), (2, 4): (833333, 2)}, forced


def test_link_prediction_resource_allocation_cap_drops_hub(
    spark, monkeypatch
):
    """A hub H adjacent to everything plus a shared low-degree friend:
    with max_degree below the hub's degree, the hub's wedge terms
    vanish but low-degree evidence survives. Both the CSR and the
    wedge path."""
    edges = [(9, i) for i in (1, 2, 3, 4)] + [(1, 5), (2, 5)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")

    def ra(**kw):
        return {
            (r["a"], r["b"]): r["ra_ppm"]
            for r in analytics.link_prediction_resource_allocation(
                pairs, top_k=10, min_common=1, **kw
            ).collect()
        }

    for forced in ("intersect", "wedge"):
        monkeypatch.setattr(analytics, "_FORCE_LP_PATH", forced)
        # uncapped: (1,2) common={9,5}: 1000000//4 + 1000000//2 = 750000
        assert ra()[(1, 2)] == 750000, forced
        # cap=3 drops hub 9 (deg 4): (1,2) keeps only z=5 -> 500000
        assert ra(max_degree=3)[(1, 2)] == 500000, forced


def test_degree_anomalies_median_mad(spark):
    """Star with 9 leaves plus a 2-path: degrees are hub=9, leaves=1
    (x9), path ends 1,1 and middle 2 -> 13 nodes, degs sorted
    [1x11, 2, 9]; lower median = 1, deviations [0x11, 1, 8], MAD = 0,
    outliers = every node with deviation > 0: the hub (8) and the path
    middle (1)."""
    edges = [(100, i) for i in range(1, 10)] + [(20, 21), (21, 22)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    got = [
        (r["id"], r["deg"], r["median_deg"], r["mad"], r["deviation"])
        for r in analytics.degree_anomalies(pairs, top=10).collect()
    ]
    assert got == [(100, 9, 1, 0, 8), (21, 2, 1, 0, 1)]


def test_degree_anomalies_no_outliers_on_regular_graph(spark):
    """A 4-cycle is degree-regular: MAD = 0 and every deviation = 0 ->
    empty report."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a bigint, b bigint"
    )
    assert analytics.degree_anomalies(pairs).count() == 0


def test_wl_color_histogram_path_graph(spark):
    """Path 1-2-3: ends are WL-indistinguishable, the middle is unique;
    colors verified against hashlib md5 of the same canonical strings."""
    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    got = {
        r["wl_color"]: r["n_nodes"]
        for r in analytics.wl_color_histogram(pairs, rounds=2).collect()
    }
    end1 = h("1|2")                      # round 1, ends
    mid1 = h("2|1,1")                    # round 1, middle
    end2 = h(f"{end1}|{mid1}")           # round 2, ends
    mid2 = h(f"{mid1}|{end1},{end1}")    # round 2, middle
    assert got == {end2: 2, mid2: 1}


def test_dag_layers_and_cycle_detection(spark):
    nodes = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id bigint, label string"
    )
    # diamond: 1->2->4, 1->3->4 plus 1->4 shortcut; longest path wins
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4)], "src bigint, dst bigint"
    )
    got = {
        (r["label"], r["layer"]): r["n_nodes"]
        for r in analytics.dag_layers(nodes, edges).collect()
    }
    assert got == {("a", 0): 1, ("a", 1): 1, ("b", 1): 1, ("c", 2): 1}
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    import pytest

    with pytest.raises(ValueError, match="cycle"):
        analytics.dag_layers(nodes, cyc, max_iter=6)


def test_edge_embeddedness_triangle_plus_bridge(spark):
    """Triangle 1-2-3 plus bridge 3-4: triangle edges have support 1,
    the bridge has 0 -> one weak_total row counting it."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a bigint, b bigint"
    )
    got = sorted(
        (r["tie"], r["a"], r["b"], r["support"])
        for r in analytics.edge_embeddedness(pairs).collect()
    )
    assert got == [
        ("strong", 1, 2, 1),
        ("strong", 1, 3, 1),
        ("strong", 2, 3, 1),
        ("weak_total", -1, -1, 1),
    ]


def test_seeded_label_propagation_clamp_and_majority(spark):
    """Path 1-2-3-4-5 with seeds 1='x', 5='y', votes re-evaluated
    every synchronous round, ties to the smallest label:
    round 1 labels 2='x', 4='y'; round 2 labels 3 (tie {x,y} -> 'x');
    round 3 re-votes 4 against {3='x', 5='y'} -> tie -> 'x'. Seeds
    never move."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    seeds = spark.createDataFrame(
        [(1, "x"), (5, "y")], "id bigint, label string"
    )
    by_round = {
        r: {
            row["id"]: (row["label"], row["is_seed"])
            for row in analytics.seeded_label_propagation(
                pairs, seeds, rounds=r
            ).collect()
        }
        for r in (1, 3)
    }
    assert by_round[1] == {
        1: ("x", True), 2: ("x", False),
        4: ("y", False), 5: ("y", True),
    }
    assert by_round[3] == {
        1: ("x", True), 2: ("x", False), 3: ("x", False),
        4: ("x", False), 5: ("y", True),
    }


def test_connected_components_incremental_matches_full(spark):
    """Two path components {1,2,3} and {10,11}; a batch edge 3-10
    merges them. Incremental maintenance == full recompute, and a
    batch edge INSIDE a component is a no-op."""
    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11)], "id bigint"
    )
    assign = analytics.connected_components_from_pairs(verts, old_pairs)
    batch = spark.createDataFrame(
        [(3, 10), (1, 2)], "a bigint, b bigint"
    )
    inc = {
        r["id"]: r["component"]
        for r in analytics.connected_components_incremental(
            assign, batch
        ).collect()
    }
    full = {
        r["id"]: r["component"]
        for r in analytics.connected_components_from_pairs(
            verts, old_pairs.unionByName(batch)
        ).collect()
    }
    assert inc == full == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1}


def test_label_path_census_matrix_power(spark):
    """Two length-2 paths a->b->c and a->b->c' on labeled nodes: counts
    equal hand enumeration, k=2."""
    nodes = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (4, "z")],
        "id bigint, label string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4), (3, 4)], "src bigint, dst bigint"
    )
    got = {
        (r["src_label"], r["dst_label"]): r["n_paths"]
        for r in analytics.label_path_census(nodes, edges, k=2).collect()
    }
    # length-2 paths: 1->2->3 (x,z), 1->2->4 (x,z), 2->3->4 (y,z)
    assert got == {("x", "z"): 2, ("y", "z"): 1}


def test_local_clustering_closed_form(spark):
    """Triangle 1-2-3 plus pendant 4 on node 3: nodes 1,2 have lcc 1;
    node 3 has deg 3, 1 triangle -> 1/3; node 4 is below min_degree."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a bigint, b bigint"
    )
    got = {
        r["id"]: (r["deg"], r["n_triangles"], r["lcc"])
        for r in analytics.local_clustering(pairs, top=10).collect()
    }
    assert got == {
        1: (2, 1, 1.0), 2: (2, 1, 1.0), 3: (3, 1, round(1 / 3, 6)),
    }


def test_maximal_matching_invariants(spark):
    """Matching invariants on a small dense graph: no vertex matched
    twice, result unchanged under repartitioning, and maximal (every
    live edge has a matched endpoint)."""
    edges = [(a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    m1 = sorted(
        (r["a"], r["b"])
        for r in analytics.maximal_matching(pairs, rounds=5).collect()
    )
    m2 = sorted(
        (r["a"], r["b"])
        for r in analytics.maximal_matching(
            pairs.repartition(7), rounds=5
        ).collect()
    )
    assert m1 == m2 and m1
    matched = [v for e in m1 for v in e]
    assert len(matched) == len(set(matched))  # a true matching
    ms = set(matched)
    assert all(a in ms or b in ms for a, b in edges)  # maximal
